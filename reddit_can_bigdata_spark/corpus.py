"""End-to-end corpus pipeline: raw documents → training shards.

Composes the pretrain-tier operators into the artifact chain a real
pretraining data pipeline materializes:

    documents
      → pretrain_keep_decision   (quality ∧ repetition ∧ decontam
                                  ∧ eval-exclusion, one row per doc)
      → filter keep              (training-eligible corpus)
      → chunk_documents          (context-window pieces)
      → write partitioned by source shard

Each stage is an already-oracle-verified operator; this module owns
only the composition and the physical output layout. At 100 TB every
stage is corpus-linear (the decision table is doc_id-keyed, the
chunker is a flatMap) and the final write is partitioned by ``source``
so downstream tokenizer jobs read one shard directory each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from reddit_can_bigdata_spark.operators.common import materialize, tables
from reddit_can_bigdata_spark.operators.pretrain import (
    chunk_documents,
    pretrain_keep_decision,
)


def build_training_shards(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> DataFrame:
    """Run the full filter → chunk → shard pipeline; write chunk
    shards to ``out_dir`` partitioned by source; return the one-row
    summary (docs in, docs kept, chunks written) that an orchestrator
    logs and gates on (the reference's DAG stats tasks,
    `airflow/dags/reddit_can_complete_pipeline.py:58-88`, as a typed
    DataFrame instead of log lines)."""
    docs = tables(spark, sf_dir)["documents"]
    decision = pretrain_keep_decision(spark, sf_dir)
    # the decision table is consumed twice at most (filter + audit);
    # materialize so the three-way decision join doesn't re-run per
    # downstream action
    kept = materialize(
        docs.join(decision.where(F.col("keep")).select("doc_id"), "doc_id").select(
            "doc_id", "source", "text"
        )
    )
    chunks = chunk_documents(kept).join(
        kept.select("doc_id", "source"), "doc_id"
    )
    # observe() counts the chunk rows AS the write streams them out —
    # no second scan of the freshly written directory (round-3 advice:
    # the old read-back re-scanned the whole output for one count)
    from pyspark.sql import Observation

    obs = Observation("shard_write")
    chunks.observe(obs, F.count(F.lit(1)).alias("n_chunks")).write.mode(
        "overwrite"
    ).partitionBy("source").parquet(out_dir)
    n_chunks = int(obs.get["n_chunks"])
    return (
        docs.agg(F.count("*").cast("bigint").alias("n_docs_in"))
        .crossJoin(
            kept.agg(F.count("*").cast("bigint").alias("n_docs_kept"))
        )
        .withColumn("n_chunks_written", F.lit(n_chunks).cast("bigint"))
    )
