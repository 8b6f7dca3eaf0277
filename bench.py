"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query runs $SPARK_GRAFT_BENCH_REPS times (default 3);
``queries`` holds per-query MEDIANS (``value`` = sum of medians).
Per-query [min, max] spreads — so a regression is distinguishable
from single-run variance (the round-3 lesson: n=1 made a 27% delta
unattributable) — are written to BENCH_SPREADS.json and stderr, NOT
the stdout line, which must stay short enough for tail-capturing
harnesses (the round-4/5 lesson). Reps of one query run
back-to-back, so rep 2+ benefit from page cache / codegen caches —
the median reflects warm steady-state, which is the comparable
number across rounds.

Each timing covers plan construction + full execution (noop-sink
consumption of every result column/row).

Per-query executor CPU time is recorded alongside wall time —
``cpu_s`` on the stdout line for queries with median wall >= 3s, full
per-query values in BENCH_SPREADS.json. It is the delta of
``perfbench.meter.StatusMeter.read()`` around each rep: the sum of the
stages' ``executorCpuTime`` in the AppStatusStore, read after draining
the listener bus and charging each (stage, attempt) once. The read
sits outside the timed region; if the meter cannot be built or read
(it uses internal Spark API), stderr says ``# cpu meter disabled`` and
the line is printed without ``cpu_s``. CPU time is contention-proof
where wall time is not: a busy host stretches wall but barely moves
CPU, so a judge can separate host noise from a real regression
without reruns.

Round 8: the stdout line is built by ``build_stdout_line`` with a
HARD byte cap (< 1024): ``queries`` carries only the heaviest
medians (wall >= 3s, further trimmed smallest-first until the line
fits), ``cpu_s`` only for names that survived the trim, and
the complete ``queries``/``cpu_s`` maps live in BENCH_SPREADS.json.
Round 7's driver artifact was truncated to ``parsed: null`` because
the full 58-entry map plus cpu_s outgrew the driver's tail-capture
window — the third recurrence of this failure mode, so the cap is
now enforced by construction and pinned by
tests/test_bench_contract.py.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from reddit_can_bigdata_spark.registry import bench_queries
from reddit_can_bigdata_spark.session import DEFAULT_SF_DIR, get_spark


def _meter_off(e: Exception) -> None:
    print(f"# cpu meter disabled: {e!r}"[:200], file=sys.stderr)


def cpu_meter(spark):
    """A callable returning the executor-CPU seconds since its previous
    call, as deltas of perfbench's ``StatusMeter.read()``. The meter
    reads internal Spark API, so if it cannot be built or read the
    bench loses ``cpu_s``, not its line: the callable returns None."""
    from perfbench.meter import StatusMeter

    try:
        meter = StatusMeter(spark)  # its first read swallows warm-up stages
    except Exception as e:
        _meter_off(e)
        return lambda: None
    last = meter.totals["cpu_s"]

    def delta() -> float | None:
        nonlocal meter, last
        if meter is None:
            return None
        try:
            now = meter.read()["cpu_s"]
        except Exception as e:
            _meter_off(e)
            meter = None
            return None
        out, last = now - last, now
        return out

    return delta


#: Hard byte budget for the single stdout JSON line. The driver
#: tail-captures stdout; rounds 4/5 and 7 each lost the artifact when
#: the line outgrew the window, so the cap is enforced by construction.
STDOUT_LINE_BUDGET = 1000

#: a per-query cpu_s move beyond this ratio vs the previous round's
#: artifact, on a query whose defining code CHANGED this round, is
#: flagged as a regression on the stdout line
REGRESSION_RATIO = 1.5


def _bench_round_no(p: Path) -> int:
    import re

    m = re.search(r"_r(\d+)", p.stem)
    return int(m.group(1)) if m else -1


def previous_round_cpu(
    repo: Path, sf: float | None = None
) -> tuple[int, dict[str, float]]:
    """(round number, per-query cpu_s) from the NEWEST driver bench
    artifact carrying a parsed cpu_s map; (-1, {}) if none. With
    ``sf``, artifacts at a different scale factor are skipped — a
    cpu ratio across scale factors is meaningless."""
    files = sorted(repo.glob("BENCH_r*.json"), key=_bench_round_no)
    for p in reversed(files):
        try:
            parsed = json.loads(p.read_text()).get("parsed") or {}
            cpu = parsed.get("cpu_s") or {}
            if cpu and (sf is None or parsed.get("sf") == sf):
                return _bench_round_no(p), {
                    k: float(v) for k, v in cpu.items()
                }
        except (OSError, ValueError, AttributeError):
            continue
    return -1, {}


def changed_query_names(repo: Path) -> set[str]:
    """Queries whose source+oracle hash no longer matches the stamp
    that earned their last green external check, plus never-stamped
    newcomers — the set a cpu regression is CHARGED to (round-10
    verdict item #4: a >1.5x move on an unchanged query is host noise
    until proven otherwise; on a changed query it must not hide
    behind the variance narrative)."""
    try:
        from reddit_can_bigdata_spark.registry import _stamp_state

        edited, unverified = _stamp_state(str(repo))
        return edited | unverified
    except Exception as e:  # no stamps/artifacts: nothing attributable
        print(f"# changed-query detection off: {e!r}"[:200], file=sys.stderr)
        return set()


def compute_regressions(
    cpu: dict[str, float],
    prev_cpu: dict[str, float],
    changed: set[str],
    threshold: float = REGRESSION_RATIO,
    cap: int = 8,
) -> dict[str, float]:
    """{name: cpu ratio} for queries whose defining code changed AND
    whose cpu_s moved beyond ``threshold`` vs the previous round —
    cpu_s, not wall, so host contention cannot raise a false alarm.
    Largest ratios first, capped so the stdout line stays bounded."""
    flagged = {}
    for name, now in cpu.items():
        before = prev_cpu.get(name)
        if before and before > 0 and name in changed:
            ratio = now / before
            if ratio > threshold:
                flagged[name] = round(ratio, 2)
    top = sorted(flagged, key=flagged.get, reverse=True)[:cap]
    return {n: flagged[n] for n in top}


def build_stdout_line(
    timings: dict[str, float],
    cpu: dict[str, float],
    sf: float,
    reps: int,
    budget: int = STDOUT_LINE_BUDGET,
    regressions: dict[str, float] | None = None,
) -> str:
    """One compact JSON line: totals always, per-query detail only while
    it fits.

    ``queries`` starts as the medians with wall >= 3s (the heavy tier a
    judge compares across rounds); ``cpu_s`` covers the same names. If
    the serialized line still exceeds ``budget`` bytes, the smallest
    entries are dropped first — the total and query count are the
    contract, the detail is best-effort. Full maps are always in
    BENCH_SPREADS.json. ``regressions`` (>REGRESSION_RATIO cpu moves
    on changed queries, see :func:`compute_regressions`) is part of
    the contract and survives trimming — it is the alert the rest of
    the detail exists to support.
    """
    regressions = regressions or {}
    total = round(sum(timings.values()), 3)
    heavy = sorted(
        (n for n, t in timings.items() if t >= 3.0),
        key=lambda n: timings[n],
        reverse=True,
    )
    if not heavy:  # tiny SF: still surface the top few
        heavy = sorted(timings, key=lambda n: timings[n], reverse=True)[:5]

    def render(names: list[str]) -> str:
        return json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "queries": {n: timings[n] for n in sorted(names)},
                "cpu_s": {n: cpu[n] for n in sorted(names) if n in cpu},
                "regressions": regressions,
                "sf": sf,
                "reps": reps,
            },
            separators=(",", ":"),
        )

    line = render(heavy)
    while len(line.encode()) > budget and heavy:
        heavy = heavy[:-1]  # drop the lightest remaining entry
        line = render(heavy)
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up the JVM/codegen/parquet-reader paths once so the first
    # measured query doesn't absorb ~4s of session startup.
    from reddit_can_bigdata_spark.tables import load_tables

    warm = load_tables(spark, sf_dir)
    warm["documents"].count()
    warm["lineitem"].groupBy("l_returnflag").count().collect()

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    cpu_delta = cpu_meter(spark)
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    cpu: dict[str, float] = {}
    for name, spec in sorted(bench_queries().items()):
        runs: list[float] = []
        cpu_runs: list[float] = []
        reps_q = min(reps, spec.bench_reps) if spec.bench_reps else reps
        for _ in range(reps_q):
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            # noop sink materializes every column of every row (a bare
            # count() would let Catalyst prune the computed columns away)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            c = cpu_delta()
            if c is not None:
                cpu_runs.append(c)
        timings[name] = round(statistics.median(runs), 3)
        spread[name] = [round(min(runs), 3), round(max(runs), 3)]
        if cpu_runs:
            cpu[name] = round(statistics.median(cpu_runs), 3)
        print(
            f"# {name}: median {timings[name]:.3f}s"
            f" (min {spread[name][0]:.3f} / max {spread[name][1]:.3f}, n={reps_q},"
            f" cpu {cpu.get(name, float('nan')):.3f}s)",
            file=sys.stderr,
        )

    # Full per-query detail goes to a SIDE FILE (and stderr), NOT the
    # stdout JSON line: harnesses that capture only the tail of stdout
    # truncated the r4/r5 result line (spreads) and the r7 line (full
    # medians + cpu_s). The stdout contract stays one capped line.
    # regression guard (round-10 verdict item #4): cpu_s ratios vs the
    # previous round's driver artifact, flagged only on queries whose
    # defining code changed since their last green external check — a
    # real regression can no longer hide behind the host-variance
    # narrative, and host variance can no longer raise a false alarm
    repo = Path(__file__).resolve().parent
    prev_round, prev_cpu = previous_round_cpu(repo, sf=sf)
    changed = changed_query_names(repo)
    ratios = {
        n: round(cpu[n] / prev_cpu[n], 3)
        for n in cpu
        if prev_cpu.get(n, 0) > 0
    }
    regressions = compute_regressions(cpu, prev_cpu, changed)

    spread_path = repo / "BENCH_SPREADS.json"
    try:
        spread_path.write_text(
            json.dumps(
                {
                    "sf": sf,
                    "reps": reps,
                    "queries": timings,
                    "spread": spread,
                    "cpu_s": cpu,
                    "cpu_ratio_vs_round": prev_round,
                    "cpu_ratio": ratios,
                    "changed_queries": sorted(changed & set(cpu)),
                    "regressions": regressions,
                },
                indent=1,
            )
        )
    except OSError as e:  # read-only checkout: stderr still has it all
        print(f"# could not write {spread_path}: {e}", file=sys.stderr)
    print(f"# queries: {json.dumps(timings)}", file=sys.stderr)
    print(f"# spread: {json.dumps(spread)}", file=sys.stderr)
    print(f"# cpu_s: {json.dumps(cpu)}", file=sys.stderr)
    print(
        f"# cpu ratio vs r{prev_round}: {json.dumps(ratios)}",
        file=sys.stderr,
    )
    print(f"# regressions: {json.dumps(regressions)}", file=sys.stderr)
    print(build_stdout_line(timings, cpu, sf, reps, regressions=regressions))


if __name__ == "__main__":
    main()
