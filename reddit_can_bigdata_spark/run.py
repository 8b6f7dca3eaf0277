"""Runnable pipeline entry point: ``python -m reddit_can_bigdata_spark.run``.

The reference operates its lifecycle through an Airflow DAG
(`airflow/dags/reddit_can_complete_pipeline.py:269-520`): stats tasks
bracket each stage (``stats_before_scraping`` / ``stats_after_scraping``
/ ``stats_after_ml`` / ``stats_final``), branch operators gate the ML
and network stages, and ``generate_final_report`` logs the outcome.
This module is the engine-side equivalent of that DAG run: one process,
the same stage sequence, per-stage wall timings on stderr (the DAG's
stats tasks), and the final report row on stdout as one JSON line.

Usage::

    python -m reddit_can_bigdata_spark.run --sf-dir /root/testdata/sf0.1
    python -m reddit_can_bigdata_spark.run --sf-dir ... --skip-ml

Exit code 0 on success; the report JSON carries the gate decisions so a
scheduler can branch on them exactly as the DAG's BranchPythonOperators
do (`:90-148`), and under ``cds`` how the driver JVM used its
class-data-sharing archive (``session.LAST_CDS``).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m reddit_can_bigdata_spark.run",
        description="Run the full pipeline (stats -> gates -> ML -> network -> report).",
    )
    parser.add_argument(
        "--sf-dir",
        default=None,
        help="table directory (default: $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1)",
    )
    parser.add_argument(
        "--skip-ml",
        action="store_true",
        help="force the ml_branch to skip (the DAG's skip_ml path)",
    )
    parser.add_argument(
        "--skip-network",
        action="store_true",
        help="force the network_branch to skip (the DAG's skip_network path)",
    )
    args = parser.parse_args(argv)

    # Imports after argparse so --help costs no JVM start.
    from reddit_can_bigdata_spark import orchestration
    from reddit_can_bigdata_spark.session import DEFAULT_SF_DIR, LAST_CDS, get_spark

    sf_dir = args.sf_dir or DEFAULT_SF_DIR
    stages: dict[str, float] = {}

    def _stage(name: str, t0: float) -> None:
        stages[name] = round(time.perf_counter() - t0, 3)
        print(f"# stage {name}: {stages[name]:.3f}s", file=sys.stderr)

    t0 = time.perf_counter()
    spark = get_spark("run_pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    _stage("session_start", t0)

    # The DAG's forced-skip paths are threshold edits, not separate code
    # paths; model them the same way so run_pipeline stays the single
    # implementation (monkeypatch-free: module constants are the gate
    # inputs, exactly like the DAG's Variable-configured thresholds).
    saved = (orchestration.MIN_POSTS_FOR_ML, orchestration.MIN_USERS_FOR_NETWORK)
    try:
        if args.skip_ml:
            orchestration.MIN_POSTS_FOR_ML = 2**62
        if args.skip_network:
            orchestration.MIN_USERS_FOR_NETWORK = 2**62

        t0 = time.perf_counter()
        run = orchestration.run_pipeline(spark, sf_dir)
        _stage("pipeline", t0)

        t0 = time.perf_counter()
        report = run.report.collect()[0].asDict()
        _stage("report_collect", t0)
    finally:
        orchestration.MIN_POSTS_FOR_ML, orchestration.MIN_USERS_FOR_NETWORK = saved

    report["stage_seconds"] = stages
    report["cds"] = dict(LAST_CDS)
    report["total_seconds"] = round(sum(stages.values()), 3)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
