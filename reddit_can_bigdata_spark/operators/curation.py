"""Dataset-curation operators for a training-data pipeline.

Two ops every LLM data pipeline runs constantly, both deterministic
(hash- or rank-based, never RNG) so (a) reruns and retries produce the
same dataset and (b) an independent SQL engine can verify them
exactly — `rand(seed)`-based sampling can't cross engines:

- deterministic stratified sampling: keep a fixed per-stratum
  percentage chosen by a portable content hash;
- per-group capping: keep the top-N rows of each group by an explicit
  quality ordering (the "cap documents per domain" step that stops a
  single source from dominating the corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from reddit_can_bigdata_spark.functions.text import PORTABLE_HASH32_SQL, portable_hash32
from reddit_can_bigdata_spark.operators.common import materialize, spread, tables
from reddit_can_bigdata_spark.registry import register

SAMPLE_PCT = 10  # keep 1 in 10 of every language stratum
CAP_PER_SOURCE = 20  # keep at most 20 documents per source


@register(
    "curate_deterministic_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {PORTABLE_HASH32_SQL.format(x="CAST(doc_id AS VARCHAR)")} % 100 < {SAMPLE_PCT}
    """,
    tags=("curation", "sampling"),
)
def curate_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample, stratified implicitly by the uniform
    hash (each lang stratum keeps ~10% because the hash is independent
    of lang). `sample(fraction, seed)` is partitioning-dependent and
    engine-specific; hashing the stable key is reproducible everywhere
    — the property a curated training set needs across reruns,
    retries, and engines. One narrow filter, fully pushed down."""
    docs = tables(spark, sf_dir)["documents"]
    keep = portable_hash32(F.col("doc_id").cast("string")) % 100 < SAMPLE_PCT
    return docs.where(keep).select("doc_id", "lang")


@register(
    "curate_cap_per_group",
    oracle=f"""
    SELECT source, doc_id, n_chars
    FROM documents
    QUALIFY row_number() OVER (
      PARTITION BY source ORDER BY n_chars DESC, doc_id
    ) <= {CAP_PER_SOURCE}
    """,
    tags=("curation", "window"),
)
def curate_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source cap: keep each source's top-N documents by length
    (tie → smallest doc_id, so the kept set is total-order stable).
    One shuffle on source + a per-group heap-ish window — the
    domain-balancing step of corpus curation. At 100 TB a skewed
    source is exactly one AQE-split partition; the window never sees
    more than one group per task."""
    docs = tables(spark, sf_dir)["documents"]
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.select("source", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= CAP_PER_SOURCE)
        .drop("rn")
    )


MIX_ALPHA_X10 = 7  # temperature alpha = 0.7 (exponent applied as pow(x, 0.7))


@register(
    "curate_source_mix",
    oracle=f"""
    WITH per_src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(list_filter(string_split(text, ' '),
                                      t -> t <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    wts AS (
      SELECT source, n_docs, n_tokens,
             pow(CAST(n_tokens AS DOUBLE), {MIX_ALPHA_X10 / 10}) AS raw_w
      FROM per_src
    )
    SELECT source, n_docs, n_tokens,
           round(raw_w / SUM(raw_w) OVER (), 6) AS mix_weight
    FROM wts
    """,
    tags=("curation", "mixture"),
)
def curate_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source MIXTURE: sampling weight per source
    ∝ n_tokens^0.7, normalized — the multilingual/multi-source
    temperature sampling rule (e.g. mT5/XLM-R's alpha-smoothed
    mixtures) that up-weights small sources relative to their raw
    token share so one giant crawl can't drown the rest.

    Plan: one hash aggregate to source granularity (the mixture table
    is sources-sized — tiny at any corpus scale), then the normalize
    is a scalar-window over that tiny table. Token counts use the
    shared pretrain tokenization; the only float steps are pow and one
    division, rounded to 6dp."""
    from reddit_can_bigdata_spark.operators.pretrain import TOKENS_EXPR

    docs = tables(spark, sf_dir)["documents"]
    per_src = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(F.expr(TOKENS_EXPR))).cast("bigint").alias("n_tokens"),
    )
    raw_w = F.pow(F.col("n_tokens").cast("double"), F.lit(MIX_ALPHA_X10 / 10))
    wts = per_src.withColumn("raw_w", raw_w)
    # normalize via an unpartitioned window over the SOURCES-sized
    # table (the oracle's form): one pass — a scalar-agg + crossJoin
    # would re-run the corpus aggregate for the total
    return wts.select(
        "source", "n_docs", "n_tokens",
        F.round(
            F.col("raw_w") / F.sum("raw_w").over(Window.partitionBy()), 6
        ).alias("mix_weight"),
    )


TOKEN_BUDGET = 10_000  # total training-token budget to realize


@register(
    "curate_token_budget",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> t <> '')) AS BIGINT) AS n_tokens,
             {PORTABLE_HASH32_SQL.format(x="CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    ),
    wts AS (
      SELECT source, pow(CAST(SUM(n_tokens) AS DOUBLE), {MIX_ALPHA_X10 / 10}) AS raw_w
      FROM toks GROUP BY source
    ),
    budgets AS (
      SELECT source,
             CAST(floor(raw_w / SUM(raw_w) OVER () * {TOKEN_BUDGET}) AS BIGINT)
               AS src_budget
      FROM wts
    ),
    cum AS (
      -- CAST: DuckDB SUM(BIGINT) is HUGEINT, which pandas renders as
      -- float64 ("520.0") while Spark's window sum stays BIGINT
      -- ("520") — a value-hash mismatch with zero actual value
      -- difference. Every oracle output column must land on the same
      -- pandas dtype kind as the Spark result (tests/test_dtype_parity.py).
      SELECT t.doc_id, t.source, t.n_tokens, b.src_budget,
             CAST(SUM(t.n_tokens) OVER (
               PARTITION BY t.source ORDER BY t.h, t.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM toks t JOIN budgets b USING (source)
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM cum WHERE cum_tokens <= src_budget
    """,
    tags=("curation", "mixture", "budget"),
)
def curate_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXTURE REALIZATION: turn the temperature weights into an
    actual dataset that fills a global token budget — the step between
    "source s gets 17% of tokens" (curate_source_mix) and a concrete
    list of documents. Per-source budget = floor(weight_s x BUDGET);
    docs are taken in deterministic portable-hash order (an unbiased,
    rerun-stable shuffle — `rand()` would differ per engine/retry)
    until the running token count would exceed the budget.

    Plan: one source-level aggregate for weights (tiny), broadcast
    back, one window cumsum per source — two shuffles total, both on
    `source`; corpus-linear and skew-safe (a giant source is one
    AQE-split partition). Every step is integer or floor()'d double,
    so the kept set is bit-stable across engines and reruns — the
    property a reproducible training run needs."""
    from reddit_can_bigdata_spark.operators.pretrain import TOKENS_EXPR

    docs = tables(spark, sf_dir)["documents"]
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.expr(TOKENS_EXPR)).cast("bigint").alias("n_tokens"),
        portable_hash32(F.col("doc_id").cast("string")).alias("h"),
    )
    wts = toks.groupBy("source").agg(
        F.pow(F.sum("n_tokens").cast("double"), F.lit(MIX_ALPHA_X10 / 10)).alias(
            "raw_w"
        )
    )
    budgets = wts.select(
        "source",
        F.floor(
            F.col("raw_w") / F.sum("raw_w").over(Window.partitionBy()) * TOKEN_BUDGET
        )
        .cast("bigint")
        .alias("src_budget"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.join(budgets, "source").withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return cum.where(F.col("cum_tokens") <= F.col("src_budget")).select(
        "doc_id", "source", "n_tokens", "cum_tokens"
    )


# train/val/test fractions in hash-bucket points out of 100
SPLIT_TRAIN_LT = 80  # bucket <  80 -> train  (80%)
SPLIT_VAL_LT = 90  # bucket < 90 -> val    (10%), else test (10%)


@register(
    "curate_stratified_split",
    oracle=f"""
    WITH assigned AS (
      SELECT source,
             CASE WHEN h < {SPLIT_TRAIN_LT} THEN 'train'
                  WHEN h < {SPLIT_VAL_LT} THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT source,
               {PORTABLE_HASH32_SQL.format(x="'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS h
        FROM documents
      )
    )
    SELECT source, split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(COUNT(*) * 1.0 /
                 SUM(COUNT(*)) OVER (PARTITION BY source), 6) AS frac
    FROM assigned
    GROUP BY source, split
    """,
    tags=("curation", "split"),
)
def curate_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10), stratified per
    source: the split of a document is a pure function of its stable
    key (portable hash bucket of `split:<doc_id>`), so (a) reruns,
    late-arriving shards, and independent engines assign identically —
    `randomSplit` is partitioning-dependent and irreproducible across
    engines — and (b) each source stratum lands ~80/10/10 because the
    hash is independent of source. Returns the per-(source, split)
    audit table a pipeline checks before writing shards.

    Plan: narrow map (hash bucket -> label) + one partial-aggregated
    groupBy; the per-source fraction is a window over the tiny
    aggregate, not the corpus. Assignment itself never shuffles, so
    at 100 TB the split step costs one scan."""
    docs = tables(spark, sf_dir)["documents"]
    h = portable_hash32(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    assigned = docs.select(
        "source",
        F.when(h < SPLIT_TRAIN_LT, "train")
        .when(h < SPLIT_VAL_LT, "val")
        .otherwise("test")
        .alias("split"),
    )
    counts = assigned.groupBy("source", "split").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    per_source = Window.partitionBy("source")
    return counts.select(
        "source",
        "split",
        "n_docs",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(per_source), 6
        ).alias("frac"),
    )


# DSIR (Xie et al. 2023, "Data Selection for Language Models via
# Importance Resampling"): hashed-bigram bucket count ratios between a
# target domain and the raw corpus give each raw doc an importance
# log-weight. Bucket count fixed; histograms are BUCKET-sized however
# big the corpus is.
DSIR_BUCKETS = 1024
DSIR_EVAL_MOD = 97  # doc_id % 97 == 0 is the "target domain" stand-in


def _dsir_oracle() -> str:
    from reddit_can_bigdata_spark.operators.pretrain import TOKENS_SQL, _gram_sql

    h = PORTABLE_HASH32_SQL.format(x="'ds:' || gr")
    return f"""
    WITH d AS (
      SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
    ),
    gb AS (
      SELECT doc_id, {h} % {DSIR_BUCKETS} AS b
      FROM (SELECT doc_id, unnest({_gram_sql(2)}) AS gr FROM d)
    ),
    t AS (SELECT b, COUNT(*) AS c FROM gb
          WHERE doc_id % {DSIR_EVAL_MOD} = 0 GROUP BY b),
    r AS (SELECT b, COUNT(*) AS c FROM gb
          WHERE doc_id % {DSIR_EVAL_MOD} <> 0 GROUP BY b),
    tot AS (
      SELECT (SELECT COALESCE(SUM(c), 0) FROM t) AS tt,
             (SELECT COALESCE(SUM(c), 0) FROM r) AS rt
    ),
    lr AS (
      SELECT bb.b,
             ln((COALESCE(t.c, 0) + 1.0) / (tot.tt + {DSIR_BUCKETS}))
             - ln((COALESCE(r.c, 0) + 1.0) / (tot.rt + {DSIR_BUCKETS})) AS lrat
      FROM (SELECT DISTINCT b FROM gb) bb
      LEFT JOIN t ON t.b = bb.b
      LEFT JOIN r ON r.b = bb.b, tot
    )
    SELECT gb.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           round(SUM(lr.lrat), 6) AS log_weight
    FROM gb JOIN lr ON lr.b = gb.b
    WHERE gb.doc_id % {DSIR_EVAL_MOD} <> 0
    GROUP BY gb.doc_id
    """


@register(
    "curate_dsir_logweight",
    oracle=_dsir_oracle(),
    tags=("curation", "dsir", "scale"),
    bench=True,
)
def curate_dsir_logweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights: score every raw-corpus document by
    how target-like its hashed-bigram distribution is —
    log w(doc) = sum over bigrams of ln(p_target(bucket)/p_raw(bucket))
    with Laplace-smoothed bucket unigram models (Xie et al. 2023 §3;
    the resampling step then keeps docs with probability proportional
    to exp(log w)). The target domain here is the doc_id % 97 eval
    slice (production: a real high-quality corpus).

    Plan: the gram->bucket stream aggregates into two
    {DSIR_BUCKETS}-row histograms — CONSTANT-size however big the
    corpus — whose log-ratio table broadcasts back onto the stream;
    one corpus-linear groupBy(doc_id) finishes. Like the bloom
    decontaminator, the model side is bounded by construction, so
    the plan has no scale cliff. ln() is portable here for the same
    reason as `pretrain_unigram_logprob` (hash-green precedent);
    the sum rounds to 6 decimals per the registry's float rule."""
    from reddit_can_bigdata_spark.operators.pretrain import _gram_expr

    docs = tables(spark, sf_dir)["documents"]
    gb = materialize(
        spread(docs)
        .select("doc_id", F.explode(F.expr(_gram_expr(2))).alias("gr"))
        .select(
            "doc_id",
            (
                portable_hash32(F.concat(F.lit("ds:"), F.col("gr")))
                % DSIR_BUCKETS
            ).alias("b"),
        )
    )
    is_eval = F.col("doc_id") % DSIR_EVAL_MOD == 0
    t = gb.where(is_eval).groupBy("b").agg(F.count("*").alias("tc"))
    r = gb.where(~is_eval).groupBy("b").agg(F.count("*").alias("rc"))
    hist = t.join(r, "b", "full_outer").select(
        "b",
        F.coalesce("tc", F.lit(0)).alias("tc"),
        F.coalesce("rc", F.lit(0)).alias("rc"),
    )
    totals = hist.agg(
        F.sum("tc").alias("tt"), F.sum("rc").alias("rt")
    )
    lr = hist.crossJoin(totals).select(
        "b",
        (
            F.log((F.col("tc") + 1.0) / (F.col("tt") + DSIR_BUCKETS))
            - F.log((F.col("rc") + 1.0) / (F.col("rt") + DSIR_BUCKETS))
        ).alias("lrat"),
    )
    return (
        gb.where(~is_eval)
        .join(lr, "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.round(F.sum("lrat"), 6).alias("log_weight"),
        )
    )


N_SHARDS = 16  # output shards for the manifest demo


@register(
    "curate_shard_manifest",
    oracle=f"""
    WITH assigned AS (
      SELECT {PORTABLE_HASH32_SQL.format(x="'shard:' || CAST(doc_id AS VARCHAR)")}
               % {N_SHARDS} AS shard_id,
             doc_id,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_toks,
             length(text) AS n_chars
      FROM documents
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM assigned GROUP BY shard_id
    """,
    tags=("curation", "sharding"),
)
def curate_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARD MANIFEST: deterministic shard assignment (portable hash
    of the stable key % {N_SHARDS} — rerun- and engine-stable, unlike
    `repartition`'s physical placement) plus the per-shard audit row
    (doc/token/char totals, id range) that a distributed writer
    publishes next to its output so downstream loaders can size reads
    and verify completeness without listing files.

    Plan: narrow map + one {N_SHARDS}-row aggregate; the hash spreads
    docs uniformly so shards stay balanced at any corpus size (the
    writer itself is `plans/layout.py`'s partitioned/bucketed write —
    this query is its accounting side)."""
    from reddit_can_bigdata_spark.operators.pretrain import TOKENS_EXPR

    docs = tables(spark, sf_dir)["documents"]
    assigned = docs.select(
        (
            portable_hash32(
                F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))
            )
            % N_SHARDS
        ).alias("shard_id"),
        "doc_id",
        F.size(F.expr(TOKENS_EXPR)).alias("n_toks"),
        F.length("text").alias("n_chars"),
    )
    return assigned.groupBy("shard_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# round 4: weighted sampling + hashed-linear quality classifier
# ---------------------------------------------------------------------------

from pathlib import Path  # noqa: E402

WSAMPLE_K = 50  # weighted sample size
U32_SPAN = 4294967296.0  # 2^32, the portable_hash32 value span

# Committed seeded weight fixture (tools/make_clf_fixture.py) — the
# train-once/serve-many split the IVF/PQ codebooks use: scoring (and
# its oracle) read this same parquet.
CLF_FIXTURE = str(
    Path(__file__).resolve().parents[2] / "fixtures" / "quality_clf_d1024.parquet"
)
CLF_DIM = 1024


@register(
    "curate_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             round(ln(({PORTABLE_HASH32_SQL.format(x="CAST(doc_id AS VARCHAR)")}
                       + 0.5) / {U32_SPAN}) / n_chars, 6) AS samp_key
      FROM documents
    )
    SELECT doc_id, n_chars, samp_key
    FROM keyed
    ORDER BY samp_key DESC, doc_id ASC
    LIMIT {WSAMPLE_K}
    """,
    tags=("curation", "sampling", "weighted"),
)
def curate_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic: the
    Efraimidis-Spirakis A-ES scheme — each row gets key u^(1/w)
    (equivalently ln(u)/w, monotone in it) with weight w = n_chars;
    the global top-k by key IS an exact weighted sample. The uniform
    u comes from the portable content hash, not rand(seed), so the
    sample is identical across engines, reruns, and partitionings —
    the property `sample()`/`rand()` cannot give.

    One narrow map + TakeOrderedAndProject (per-partition top-k heaps,
    k rows to the driver-side merge): the canonical cluster-scale
    sampling plan — no shuffle of the data, no sort of the corpus.
    Keys round to 6dp and break ties by doc_id so the cutoff is
    stable."""
    docs = tables(spark, sf_dir)["documents"]
    u = (portable_hash32(F.col("doc_id").cast("string")) + 0.5) / F.lit(U32_SPAN)
    key = F.round(F.log(u) / F.col("n_chars"), 6)
    return (
        docs.select("doc_id", "n_chars", key.alias("samp_key"))
        .orderBy(F.desc("samp_key"), F.asc("doc_id"))
        .limit(WSAMPLE_K)
    )


@register(
    "curate_quality_classifier",
    oracle=None,  # set below (needs the pretrain tokenization twins)
    tags=("curation", "classifier", "fasttext"),
    bench=True,
)
def curate_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-linear quality-classifier INFERENCE — the fastText-style
    scoring pass (CCNet / GPT-3 / LLaMA corpus filters run exactly
    this shape): features are hashed uni+bigrams, the model is a
    {CLF_DIM}-bucket weight vector plus bias, score =
    sigmoid(bias + mean pooled weight). The committed seeded fixture
    stands in for a trained model (no training libs in the sandbox);
    serving mechanics — hashing trick, mean pooling, broadcast of the
    model — are the real thing.

    Scale: the model is CONSTANT-size (KB), broadcast onto the gram
    stream; the corpus side is scan → explode → broadcast-join → one
    doc_id aggregate. Weights are 6dp-rounded at training time so the
    per-doc weight sum runs in exact DECIMAL (order-independent at
    any parallelism — the float-sum rule); sigmoid is one shared
    double expression, rounded to 6dp."""
    from reddit_can_bigdata_spark.operators.pretrain import TOKENS_EXPR, _gram_expr

    docs = tables(spark, sf_dir)["documents"]
    weights = spark.read.parquet(CLF_FIXTURE)
    bias = weights.where(F.col("feature_id") == -1).select(
        F.col("weight").alias("bias")
    )
    grams = spread(docs).select(
        "doc_id",
        F.explode(
            F.concat(F.expr(TOKENS_EXPR), F.expr(_gram_expr(2)))
        ).alias("gram"),
    )
    feats = grams.select(
        "doc_id", (portable_hash32(F.col("gram")) % CLF_DIM).alias("feature_id")
    )
    pooled = (
        feats.join(weights.where(F.col("feature_id") >= 0), "feature_id")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_feats"),
            F.sum(F.col("weight").cast("decimal(18,6)")).alias("wsum"),
        )
    )
    logit = F.col("bias") + F.col("wsum").cast("double") / F.col("n_feats")
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return (
        pooled.crossJoin(bias)
        .select(
            "doc_id",
            "n_feats",
            score.alias("quality_score"),
            (score >= 0.5).alias("keep"),
        )
    )


def _clf_oracle() -> str:
    from reddit_can_bigdata_spark.operators.pretrain import TOKENS_SQL, _gram_sql

    h = PORTABLE_HASH32_SQL.format(x="gram")
    return f"""
    WITH d AS (
      SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(list_concat(toks, {_gram_sql(2)})) AS gram FROM d
    ),
    feats AS (
      SELECT doc_id, {h} % {CLF_DIM} AS feature_id FROM grams
    ),
    model AS (
      SELECT feature_id, weight FROM read_parquet('{CLF_FIXTURE}')
      WHERE feature_id >= 0
    ),
    b AS (
      SELECT weight AS bias FROM read_parquet('{CLF_FIXTURE}')
      WHERE feature_id = -1
    ),
    pooled AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
             SUM(CAST(weight AS DECIMAL(18,6))) AS wsum
      FROM feats JOIN model USING (feature_id)
      GROUP BY doc_id
    )
    SELECT doc_id, n_feats,
           round(1.0 / (1.0 + exp(-(bias + CAST(wsum AS DOUBLE) / n_feats))), 6)
             AS quality_score,
           round(1.0 / (1.0 + exp(-(bias + CAST(wsum AS DOUBLE) / n_feats))), 6)
             >= 0.5 AS keep
    FROM pooled CROSS JOIN b
    """


from reddit_can_bigdata_spark.registry import REGISTRY as _REG  # noqa: E402

_REG["curate_quality_classifier"].oracle = _clf_oracle()


# ---------------------------------------------------------------------------
# round 6: WebDataset-style tar shard packing
# ---------------------------------------------------------------------------

TAR_RECORD = 10240  # tar blocking factor (20 x 512) — tarfile default


def pack_webdataset_shards(docs: DataFrame, n_shards: int = N_SHARDS) -> DataFrame:
    """Pack documents into WebDataset-style TAR SHARDS — the standard
    container for large-scale (multimodal) training ingest: loaders
    stream whole shards sequentially instead of issuing per-sample
    object reads. Shard assignment reuses `curate_shard_manifest`'s
    deterministic portable-hash rule, so the manifest IS this
    packer's accounting row.

    The tar bytes are BIT-DETERMINISTIC at any partitioning: entries
    sort by doc_id inside the shard, names are zero-padded doc_ids,
    ustar format is pinned, and every nondeterministic header field
    (mtime/uid/gid/uname/gname) is zeroed — so a re-run, a different
    executor count, or a different engine produces byte-identical
    shards (asserted by md5 in tests/test_webdataset.py).

    Plan: one hash shuffle on shard_id, then one Arrow group per
    shard through applyInPandas. The group materializes in memory —
    which is exactly WebDataset's own constraint (shards are sized to
    ~100MB-1GB via maxcount/maxsize); pick n_shards so corpus/n_shards
    respects that, same as any shard writer."""
    import hashlib
    import io
    import tarfile

    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("shard_id", LongType()),
            StructField("n_entries", LongType()),
            StructField("payload_bytes", LongType()),
            StructField("tar_size", LongType()),
            StructField("tar_md5", StringType()),
            StructField("tar_bytes", BinaryType()),
        ]
    )

    def pack(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        buf = io.BytesIO()
        total = 0
        n = 0
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                data = str(text).encode("utf-8")
                ti = tarfile.TarInfo(name=f"{int(doc_id):012d}.txt")
                ti.size = len(data)
                ti.mtime = 0
                ti.uid = 0
                ti.gid = 0
                ti.mode = 0o644
                ti.uname = ""
                ti.gname = ""
                tf.addfile(ti, io.BytesIO(data))
                total += len(data)
                n += 1
        tar = buf.getvalue()
        return pd.DataFrame(
            {
                "shard_id": pd.Series([int(key[0])], dtype="int64"),
                "n_entries": pd.Series([n], dtype="int64"),
                "payload_bytes": pd.Series([total], dtype="int64"),
                "tar_size": pd.Series([len(tar)], dtype="int64"),
                "tar_md5": [hashlib.md5(tar).hexdigest()],
                "tar_bytes": [tar],
            }
        )

    assigned = docs.where(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    ).select(
        (
            portable_hash32(
                F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))
            )
            % n_shards
        ).alias("shard_id"),
        "doc_id",
        "text",
    )
    return assigned.groupBy("shard_id").applyInPandas(pack, schema=schema)


@register(
    "curate_pack_tar_shards",
    oracle=f"""
    WITH assigned AS (
      SELECT {PORTABLE_HASH32_SQL.format(x="'shard:' || CAST(doc_id AS VARCHAR)")}
               % {N_SHARDS} AS shard_id,
             octet_length(encode(text)) AS sz
      FROM documents
      WHERE doc_id IS NOT NULL AND text IS NOT NULL
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_entries,
           CAST(SUM(sz) AS BIGINT) AS payload_bytes,
           CAST(((512 * COUNT(*) + SUM((sz + 511) // 512 * 512)
                  + 1024 + {TAR_RECORD} - 1) // {TAR_RECORD})
                * {TAR_RECORD} AS BIGINT) AS tar_size
    FROM assigned GROUP BY shard_id
    """,
    tags=("curation", "sharding", "webdataset", "multimodal"),
)
def curate_pack_tar_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tar-shard packer's oracle row: the DuckDB twin PREDICTS
    each shard's exact tar byte size from pure arithmetic — per entry
    a 512-byte ustar header plus content padded to 512, plus the
    1024-byte end-of-archive marker, the whole padded to the 10240
    blocking record — while the Spark side reports the length of the
    ACTUAL tar bytes built by `pack_webdataset_shards`. Any drift in
    entry layout, header format, or padding breaks the hash, making
    this a structural round-trip check in the same spirit as the
    image/audio identity oracles. (tar_md5 and the bytes themselves
    are not SQL-expressible; byte-level determinism is pinned in
    tests/test_webdataset.py instead.)"""
    docs = tables(spark, sf_dir)["documents"]
    return pack_webdataset_shards(docs).select(
        "shard_id", "n_entries", "payload_bytes", "tar_size"
    )


EPOCH_BUDGET = 150_000  # training-token target that forces repetition
MAX_EPOCHS = 4  # data-constrained repeat ceiling (Muennighoff et al.)


@register(
    "curate_epoch_plan",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split(text, ' '),
                                       t -> t <> ''))) AS BIGINT)
               AS unique_tokens
      FROM documents GROUP BY source
    ),
    wts AS (
      SELECT source, unique_tokens,
             pow(CAST(unique_tokens AS DOUBLE), {MIX_ALPHA_X10 / 10}) AS raw_w
      FROM toks
    ),
    shares AS (
      -- quantize the share to 9 dp BEFORE the floor: the window SUM is
      -- an order-dependent double accumulation, and a ULP difference
      -- between engines could otherwise flip floor() at an integer
      -- boundary (round-9 advice; same determinism doctrine as
      -- sim_kmeans_lloyd)
      SELECT source, unique_tokens,
             round(raw_w / SUM(raw_w) OVER (), 9) AS share
      FROM wts
    )
    SELECT source, unique_tokens,
           CAST(floor(share * {EPOCH_BUDGET}) AS BIGINT) AS desired_tokens,
           CAST(least(
             CAST(floor(share * {EPOCH_BUDGET}) AS BIGINT),
             unique_tokens * {MAX_EPOCHS}
           ) AS BIGINT) AS realized_tokens,
           round(least(
             CAST(floor(share * {EPOCH_BUDGET}) AS BIGINT),
             unique_tokens * {MAX_EPOCHS}
           ) * 1.0 / unique_tokens, 6) AS epochs,
           (CAST(floor(share * {EPOCH_BUDGET}) AS BIGINT)
            > unique_tokens * {MAX_EPOCHS}) AS capped
    FROM shares
    """,
    tags=("curation", "mixture", "epochs", "budget"),
)
def curate_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-CONSTRAINED EPOCH PLANNING (Muennighoff et al., "Scaling
    Data-Constrained Language Models"): when the temperature-weighted
    token budget exceeds a source's unique tokens, repeat the source —
    but past ~4 epochs repeated data stops helping, so the plan caps
    there and reports the deficit as `capped`. Per source: unique
    tokens, the temperature-desired share of the budget, the realized
    tokens under the cap, and the (fractional) epoch count the loader
    should run. Downstream, `curate_token_budget` realizes one epoch's
    membership and `pretrain_sequence_packing` lays it out.

    Plan: ONE source-level aggregate (tiny output) + a window over the
    |sources|-row table — the corpus is scanned once; all decision
    arithmetic is integer/floor'd, so the plan is rerun-stable."""
    from reddit_can_bigdata_spark.operators.pretrain import TOKENS_EXPR

    docs = tables(spark, sf_dir)["documents"]
    toks = (
        docs.select("source", F.size(F.expr(TOKENS_EXPR)).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").cast("bigint").alias("unique_tokens"))
    )
    return epoch_plan(toks, EPOCH_BUDGET, MIX_ALPHA_X10 / 10, MAX_EPOCHS)


def epoch_plan(
    counts: DataFrame, budget: int, alpha: float, max_epochs: int
) -> DataFrame:
    """The planning math on a (source, unique_tokens) frame — split out
    so tests can exercise the cap on skewed synthetic mixes the uniform
    fixture corpus never produces."""
    w = Window.partitionBy()
    raw_w = F.pow(F.col("unique_tokens").cast("double"), F.lit(alpha))
    # quantize the share to 9 dp before flooring — the window SUM is an
    # order-dependent double accumulation; a cross-engine ULP wiggle
    # must not flip floor() at an integer boundary (round-9 advice)
    share = F.round(raw_w / F.sum(raw_w).over(w), 9)
    desired = F.floor(share * F.lit(budget)).cast("bigint")
    ceiling = F.col("unique_tokens") * max_epochs
    realized = F.least(desired, ceiling).cast("bigint")
    return counts.select(
        "source",
        "unique_tokens",
        desired.alias("desired_tokens"),
        realized.alias("realized_tokens"),
        F.round(realized * 1.0 / F.col("unique_tokens"), 6).alias("epochs"),
        (desired > ceiling).alias("capped"),
    )
