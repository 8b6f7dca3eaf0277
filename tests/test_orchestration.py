"""End-to-end orchestration parity (the reference Airflow DAG's
stats → gates → stages → report lifecycle) against the engine's
run_pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F

from reddit_can_bigdata_spark.orchestration import (
    MIN_POSTS_FOR_ML,
    MIN_USERS_FOR_NETWORK,
    pipeline_gate_report,
    run_pipeline,
)


def test_gate_report_matches_manual_counts(spark, sf_dir):
    from reddit_can_bigdata_spark.operators.common import tables

    t = tables(spark, sf_dir)
    row = pipeline_gate_report(spark, sf_dir).collect()[0]
    assert row["posts"] == t["documents"].count()
    assert row["comments"] == t["events"].count()
    assert row["processed_posts"] == t["documents"].where(
        F.length("text") > 20
    ).count()
    assert row["unique_users"] == (
        t["events"].select("user_id").distinct().count()
    )
    want_ml = (
        "run_ml_analysis"
        if row["processed_posts"] >= MIN_POSTS_FOR_ML
        else "skip_ml"
    )
    want_net = (
        "run_network_analysis"
        if row["unique_users"] >= MIN_USERS_FOR_NETWORK
        else "skip_network"
    )
    assert row["ml_branch"] == want_ml
    assert row["network_branch"] == want_net


def test_run_pipeline_executes_gated_stages(spark, sf_dir):
    """At sf0.001 the fixtures land ML=run (500 processed >= 50) and
    network=skip (15 users < 30) — the skip branch is exercised for
    real, not mocked; sf0.01 runs both (see sf0.01 test below)."""
    run = run_pipeline(spark, sf_dir)
    report = run.report.collect()[0]

    if run.gates["ml_branch"] == "run_ml_analysis":
        assert run.ml is not None
        assert report["sentiment_results"] > 0
        assert 0.0 < report["ml_coverage_pct"] <= 100.0
        # predictions carry the reference's output columns (id, labels)
        assert {"lex_label", "ml_prediction"} <= set(run.ml.predictions.columns)
    else:
        assert run.ml is None and report["sentiment_results"] == 0

    if run.gates["network_branch"] == "run_network_analysis":
        assert run.influencers is not None
        assert report["network_users"] == run.influencers.count()
    else:
        assert run.influencers is None and report["network_users"] == 0

    # report row mirrors the gate row
    for k in ("posts", "comments", "processed_posts", "unique_users"):
        assert report[k] == run.gates[k]


def test_run_pipeline_both_gates_open_at_sf001(spark, sf001_dir):
    """sf0.01 has 150 unique users — both branches run; the network
    stage yields the reference-shaped top-20 influencer table."""
    run = run_pipeline(spark, sf001_dir)
    assert run.gates["ml_branch"] == "run_ml_analysis"
    assert run.gates["network_branch"] == "run_network_analysis"
    assert run.influencers is not None
    top = run.influencers.collect()
    assert len(top) == 20


def test_run_pipeline_ml_gate_skips_on_small_input(spark, sf_dir, tmp_path):
    """The DAG's `processed_posts < 50 => skip_ml` branch (reference
    `airflow/dags/reddit_can_complete_pipeline.py:90-118`), exercised
    for real on a sliced input: documents cut to 10 rows (so the ETL
    filter can never reach the ML threshold) with every other table
    intact. Both skip branches must produce a complete report row
    with zeroed stage outputs — not an error, not a silent run."""
    from reddit_can_bigdata_spark.tables import TABLE_NAMES, load_tables

    sliced = tmp_path / "sf_sliced"
    src = load_tables(spark, sf_dir)
    for name in TABLE_NAMES:
        df = src[name]
        if name == "documents":
            df = df.orderBy("doc_id").limit(10)
        df.write.parquet(str(sliced / f"{name}.parquet"))

    run = run_pipeline(spark, str(sliced))
    assert run.gates["processed_posts"] < MIN_POSTS_FOR_ML
    assert run.gates["ml_branch"] == "skip_ml"
    assert run.ml is None
    report = run.report.collect()[0]
    assert report["sentiment_results"] == 0
    assert report["ml_coverage_pct"] == 0.0
    # sf0.001 has 15 unique users, so the network gate also skips —
    # the all-skip path still yields the full report row
    assert run.gates["network_branch"] == "skip_network"
    assert run.influencers is None and report["network_users"] == 0
    for k in ("posts", "comments", "processed_posts", "unique_users"):
        assert report[k] == run.gates[k]


def test_pipeline_e2e_registered_as_single_rep_bench():
    """The whole-DAG query is the bench unit for the reference's only
    published envelope (stage timeouts); one rep per bench run is the
    honest wall number. Round 8: the report row gained an exact DuckDB
    oracle (the row is deterministic — counts, branch CASEs, coverage,
    LEAST(20, nodes)) so the registry carries zero no_oracle rows."""
    from reddit_can_bigdata_spark.registry import REGISTRY, bench_queries

    spec = REGISTRY["pipeline_e2e"]
    assert spec.bench and spec.bench_reps == 1 and spec.oracle is not None
    assert spec.oracle_max_sf == 0.01  # embeds exact-closeness oracle
    assert "sentiment_results" in spec.oracle and "network_users" in spec.oracle
    assert "pipeline_e2e" in bench_queries()
    # bench.py's rep clamp: harness default of 3 collapses to 1 here
    reps = 3
    assert min(reps, spec.bench_reps) == 1
