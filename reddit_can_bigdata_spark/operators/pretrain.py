"""Pretraining-corpus operators: chunking, keyword extraction, quality
rules, sequence packing, LM scoring, and winnowing fingerprints.

These extend the reference's text featurization (SURVEY §2.7) to the
document-level operations a 100 TB LLM training-data pipeline runs
between "raw corpus" and "tokenized shards". Every one is a pure
Catalyst expression chain (no UDFs) with an exact DuckDB oracle; the
float-free ones are bit-exact across engines, the two log-based scores
round to 6 decimals (the registry's convention for iterative/float
results, see `registry.py`).

Scale stance (local[32] tests, 1000-executor design):

- chunking and quality rules are narrow maps — they scale embarrassingly;
- TF-IDF's document-frequency table is vocabulary-sized (≪ corpus),
  so it broadcasts back onto the term stream;
- packing windows partition by ``source`` (shard), never globally —
  each shard packs independently, which is exactly how a real
  tokenizer-sharder runs;
- winnowing is a per-document sliding window after a narrow k-gram
  fan-out — one shuffle on doc_id, bounded frame state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from reddit_can_bigdata_spark.functions.text import (
    PORTABLE_HASH32_SQL,
    portable_hash32,
)
from reddit_can_bigdata_spark.operators.common import iter_checkpoint, spread, tables
from reddit_can_bigdata_spark.registry import register

CHUNK_TOKENS = 16  # tokens per chunk window
CHUNK_STRIDE = 8  # tokens between chunk starts (50% overlap)
TFIDF_TOPK = 3
PACK_BUDGET = 256  # tokens per packed training sequence
WINNOW_K = 3  # tokens per k-gram (shingle)
WINNOW_W = 4  # winnowing window: k-grams per selection window
# argmin-in-window packing: enc = hash32 * WINNOW_POS_MOD + pos.
# 2^31 is the largest multiplier whose packed value still fits a
# BIGINT for an unsigned 32-bit hash ((2^32-1)*2^31 + (2^31-1) =
# 2^63-1 exactly), so positions are safe up to ~2.1e9 k-grams per
# document — beyond any real corpus row (a 2^20 multiplier would
# silently corrupt fingerprints past ~1M k-grams).
WINNOW_POS_MOD = 2_147_483_648  # 2^31

# ONE tokenization policy for every pretrain operator (advice r2):
# tokens are the NON-EMPTY fields of a single-space split, so
# n_tokens/chunks/fingerprints agree across operators even for text
# with repeated or leading spaces. Spark / DuckDB twins:
TOKENS_EXPR = "filter(split(text, ' '), t -> t <> '')"
TOKENS_SQL = "list_filter(string_split(text, ' '), t -> t <> '')"


@register(
    "pretrain_doc_chunks",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, len(toks) - 1, {CHUNK_STRIDE})) AS start
      FROM d
    )
    SELECT doc_id,
           CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(start AS BIGINT) AS chunk_start,
           CAST(least({CHUNK_TOKENS}, len(toks) - start) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(
             list_slice(toks, start + 1, start + {CHUNK_TOKENS}), ' ')
             AS chunk_text
    FROM s
    """,
    tags=("pretrain", "chunking"),
    bench=True,
)
def pretrain_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window 16, stride 8, 50%
    overlap): the context-window splitter that turns
    long documents into training-sized pieces, each start offset a
    chunk. Pure flatMap — ``sequence`` + ``explode`` + ``slice`` —
    no shuffle at all; at 100 TB this runs at scan speed and the
    output is written straight back out partitioned by shard."""
    return chunk_documents(tables(spark, sf_dir)["documents"])


def chunk_documents(docs: DataFrame) -> DataFrame:
    """The chunker over any (doc_id, text) frame — the registered
    query binds it to the documents table; tests feed it edge cases
    the synthetic corpus doesn't contain."""
    # empty/whitespace-only text tokenizes to [] under TOKENS_EXPR;
    # sequence(0, -1) raises in Spark (the oracle's generate_series
    # returns empty), so zero-token docs must be filtered, not fed in
    base = docs.select("doc_id", F.expr(TOKENS_EXPR).alias("toks")).where(
        F.size("toks") > 0
    )
    starts = F.sequence(
        F.lit(0), F.size("toks") - F.lit(1), F.lit(CHUNK_STRIDE)
    )
    exploded = base.select(
        "doc_id", "toks", F.explode(starts).alias("start")
    )
    return exploded.select(
        "doc_id",
        F.expr(f"start div {CHUNK_STRIDE}").cast("bigint").alias("chunk_id"),
        F.col("start").cast("bigint").alias("chunk_start"),
        F.least(F.lit(CHUNK_TOKENS), F.size("toks") - F.col("start"))
        .cast("bigint")
        .alias("n_chunk_tokens"),
        F.array_join(
            F.slice(F.col("toks"), F.col("start") + 1, F.lit(CHUNK_TOKENS)), " "
        ).alias("chunk_text"),
    )


@register(
    "pretrain_tfidf_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE term <> '' GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf
    FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY doc_id ORDER BY tfidf DESC, term
    ) <= {TFIDF_TOPK}
    """,
    tags=("pretrain", "tfidf", "keywords"),
    bench=True,
)
def pretrain_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 keywords by TF-IDF, fully
    relational: term counts per doc (one shuffle on (doc_id, term)),
    document frequencies (vocabulary-sized — broadcast back), scalar
    doc count, then a per-doc ranking window. Ordering uses the
    ROUNDED score plus the term as tiebreak so the kept set is
    deterministic and identical across engines. At 100 TB the df
    table is the only global state and it is ≪ corpus-sized (the
    vocabulary), exactly why TF-IDF scales where pairwise similarity
    doesn't."""
    docs = tables(spark, sf_dir)["documents"]
    tok = spread(docs).select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TFIDF_TOPK)
        .drop("rn")
    )


_STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is",
    "le", "la", "les", "et", "de", "un", "une",
)
_STOP_LIST_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


@register(
    "pretrain_quality_rules",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS BIGINT) AS n_tokens,
             CAST(len(replace(text, ' ', '')) AS BIGINT) AS sum_tok_len,
             CAST(len(list_filter(string_split(text, ' '),
                  t -> t IN ({_STOP_LIST_SQL}))) AS BIGINT) AS stop_hits,
             CAST(len(list_filter(string_split(text, ' '),
                  t -> regexp_matches(t, '^[a-z]+$'))) AS BIGINT) AS alpha_toks
      FROM documents
    )
    SELECT doc_id, n_tokens,
           (n_tokens BETWEEN 10 AND 1000) AS ok_len,
           (sum_tok_len >= 3 * n_tokens AND sum_tok_len <= 10 * n_tokens)
             AS ok_mean_word_len,
           (stop_hits >= 1) AS ok_stopwords,
           (5 * alpha_toks >= 4 * n_tokens) AS ok_alpha_ratio,
           ((n_tokens BETWEEN 10 AND 1000)
            AND sum_tok_len >= 3 * n_tokens AND sum_tok_len <= 10 * n_tokens
            AND stop_hits >= 1
            AND 5 * alpha_toks >= 4 * n_tokens) AS keep
    FROM feats
    """,
    tags=("pretrain", "quality"),
    bench=True,
)
def pretrain_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1
    adapted to the fixture corpus): token-count bounds, mean word
    length in [3,10], ≥1 stopword, ≥80% alphabetic tokens. Every rule
    is an INTEGER comparison (ratios as cross-multiplications, e.g.
    ``5*alpha >= 4*n`` for ≥0.8) so the verdicts are bit-exact across
    engines — no float thresholds to drift. One narrow projection;
    scales at scan speed."""
    docs = tables(spark, sf_dir)["documents"]
    stop_list = ", ".join(f"'{w}'" for w in _STOPWORDS)
    n_tokens = F.expr("size(filter(split(text, ' '), t -> t <> ''))").cast(
        "bigint"
    )
    sum_tok_len = F.length(F.regexp_replace("text", " ", "")).cast("bigint")
    stop_hits = F.expr(
        f"size(filter(split(text, ' '), t -> t IN ({stop_list})))"
    ).cast("bigint")
    alpha_toks = F.expr(
        "size(filter(split(text, ' '), t -> t rlike '^[a-z]+$'))"
    ).cast("bigint")
    feats = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        sum_tok_len.alias("sum_tok_len"),
        stop_hits.alias("stop_hits"),
        alpha_toks.alias("alpha_toks"),
    )
    ok_len = F.col("n_tokens").between(10, 1000)
    ok_mwl = (F.col("sum_tok_len") >= 3 * F.col("n_tokens")) & (
        F.col("sum_tok_len") <= 10 * F.col("n_tokens")
    )
    ok_stop = F.col("stop_hits") >= 1
    ok_alpha = 5 * F.col("alpha_toks") >= 4 * F.col("n_tokens")
    return feats.select(
        "doc_id",
        "n_tokens",
        ok_len.alias("ok_len"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_stop.alias("ok_stopwords"),
        ok_alpha.alias("ok_alpha_ratio"),
        (ok_len & ok_mwl & ok_stop & ok_alpha).alias("keep"),
    )


@register(
    "pretrain_sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(len({TOKENS_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT source, doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS start_offset
      FROM t
    )
    SELECT source, doc_id, n_tokens, start_offset,
           CAST(start_offset // {PACK_BUDGET} AS BIGINT) AS seq_id,
           (start_offset // {PACK_BUDGET}
            <> (start_offset + n_tokens - 1) // {PACK_BUDGET})
             AS crosses_boundary
    FROM packed
    """,
    tags=("pretrain", "packing"),
    bench=True,
)
def pretrain_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style tokenizer
    sharder): within each ``source`` shard, documents are laid end to
    end in deterministic doc_id order; each doc gets its token start
    offset, its 256-token training-sequence id, and a flag
    for docs straddling a sequence boundary. All integer window
    arithmetic — bit-exact. Packing is per-shard BY DESIGN: a global
    order would funnel 100 TB through one window task, while per-shard
    packing parallelizes perfectly and is what real pipelines do
    (shards are the unit of tokenization)."""
    docs = tables(spark, sf_dir)["documents"]
    t = docs.select(
        "source",
        "doc_id",
        F.size(F.expr(TOKENS_EXPR)).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = t.withColumn(
        "start_offset",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint"),
    )
    seq_id = F.expr(f"start_offset div {PACK_BUDGET}").cast("bigint")
    end_seq = F.expr(
        f"(start_offset + n_tokens - 1) div {PACK_BUDGET}"
    ).cast("bigint")
    return packed.select(
        "source",
        "doc_id",
        "n_tokens",
        "start_offset",
        seq_id.alias("seq_id"),
        (seq_id != end_seq).alias("crosses_boundary"),
    )


@register(
    "pretrain_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    vocab AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok2 GROUP BY term
    ),
    total AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total_toks FROM vocab)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(ln(vocab.cnt)) - ANY_VALUE(ln(total.total_toks)), 6)
             AS avg_logprob
    FROM tok2 JOIN vocab USING (term) CROSS JOIN total
    GROUP BY doc_id
    """,
    tags=("pretrain", "lm-score"),
    bench=True,
)
def pretrain_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model score: each document's mean log
    probability of its tokens under the corpus's own unigram
    distribution — the cheapest perplexity proxy, used to rank
    documents for quality before an expensive LM scores them.
    ``avg(ln p(t))`` decomposes to ``avg(ln cnt) − ln total``, so the
    join carries integer counts and only two log calls per row happen
    at the end (rounded to 6dp — ln/avg agree across engines far
    below that). The vocabulary table broadcasts; one shuffle for the
    vocab count, one for the per-doc average."""
    docs = tables(spark, sf_dir)["documents"]
    tok = spread(docs).select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    vocab = tok.groupBy("term").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("total_toks"))
    return (
        tok.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("cnt"))) - F.first(F.log(F.col("total_toks"))),
                6,
            ).alias("avg_logprob"),
        )
    )


@register(
    "pretrain_winnowing",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
    ),
    kg AS (
      SELECT doc_id,
             unnest(generate_series(1, len(toks) - {WINNOW_K - 1})) AS pos,
             toks
      FROM d
      WHERE len(toks) >= {WINNOW_K}
    ),
    hashed AS (
      SELECT doc_id, pos,
             {PORTABLE_HASH32_SQL.format(
                 x="toks[pos] || ' ' || toks[pos+1] || ' ' || toks[pos+2]"
             )} * {WINNOW_POS_MOD} + pos AS enc,
             CAST(len(toks) - {WINNOW_K - 1} AS BIGINT) AS nk
      FROM kg
    ),
    sel AS (
      SELECT doc_id,
             MIN(enc) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS pick
      FROM hashed
      QUALIFY pos <= nk - {WINNOW_W - 1}
    )
    SELECT DISTINCT doc_id,
           CAST(pick % {WINNOW_POS_MOD} AS BIGINT) AS pos,
           CAST(pick // {WINNOW_POS_MOD} AS BIGINT) AS khash
    FROM sel
    """,
    tags=("pretrain", "fingerprint", "winnowing"),
    bench=True,
)
def pretrain_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003): hash
    every 3-token shingle, slide a 4-wide window over the
    hash sequence, keep each window's minimum (leftmost on ties), and
    dedupe — the guarantee is that any shared run of ≥ w+k−1 tokens
    between two documents shares a fingerprint. The argmin survives
    the window MIN by packing ``hash·2^20 + pos`` into one BIGINT
    (positions < 2^20), keeping the whole operator integer-exact and
    portable. One narrow k-gram fan-out + one bounded-frame window on
    doc_id — linear at any scale, and the selected-fingerprint table
    is what a plagiarism/near-dup index actually stores."""
    docs = tables(spark, sf_dir)["documents"]
    base = docs.select("doc_id", F.expr(TOKENS_EXPR).alias("toks")).where(
        F.size("toks") >= WINNOW_K
    )
    kgram = F.expr(
        "transform(sequence(1, size(toks) - {km1}), i -> "
        "concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', "
        "element_at(toks, i + 2)))".format(km1=WINNOW_K - 1)
    )
    hashed = (
        spread(base)
        .select(
            "doc_id",
            F.size("toks").alias("n_toks"),
            F.posexplode(kgram).alias("pos0", "kgram"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            (portable_hash32(F.col("kgram")) * WINNOW_POS_MOD + F.col("pos0") + 1)
            .cast("bigint")
            .alias("enc"),
            (F.col("n_toks") - (WINNOW_K - 1)).cast("bigint").alias("nk"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    sel = hashed.withColumn("pick", F.min("enc").over(w)).where(
        F.col("pos") <= F.col("nk") - (WINNOW_W - 1)
    )
    return sel.select(
        "doc_id",
        (F.col("pick") % WINNOW_POS_MOD).cast("bigint").alias("pos"),
        F.expr(f"pick div {WINNOW_POS_MOD}").cast("bigint").alias("khash"),
    ).distinct()


DECONTAM_N = 5  # tokens per collision shingle (tuned to the short
# synthetic docs; production pipelines run 8-13-gram windows, same plan)
DECONTAM_EVAL_MOD = 97  # doc_id % 97 == 0 is the held-out "benchmark" set
# Broadcast the deduped eval grams only below this row count (~60 MB
# at ~30 B/gram, inside the session's 64 MB autoBroadcast budget);
# above it the semi-join becomes a shuffle-hash join instead.
DECONTAM_BROADCAST_MAX_GRAMS = 2_000_000


def _gram_sql(n: int) -> str:
    """DuckDB n-gram list over the shared TOKENS_SQL tokenization."""
    gram = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"[{gram} for i in generate_series(1, len(toks) - {n - 1})] "
        "ELSE [] END"
    )


def _gram_expr(n: int) -> str:
    """Spark twin of `_gram_sql`, straight from the `text` column.

    The tokenization is BOUND ONCE via the single-element-array lambda
    (`transform(array(tokens), toks -> ...)`): a naive two-step
    projection (toks column, then grams referencing it) gets merged by
    Catalyst's CollapseProject, which substitutes the whole
    filter(split(text)) into EVERY element_at reference — n positions
    x n tokens-per-position re-evaluations turned this scan-speed map
    quadratic (measured 6.2s -> 0.9s at sf0.1). Lambda variables are
    evaluated once by construction, so the binding survives any
    projection rewrite."""
    parts = ", ".join(f"element_at(toks, i + {j})" for j in range(n))
    return (
        f"element_at(transform(array({TOKENS_EXPR}), toks -> "
        f"CASE WHEN size(toks) >= {n} THEN "
        f"transform(sequence(1, size(toks) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})) "
        "ELSE array() END), 1)"
    )


@register(
    "pretrain_decontaminate",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {{TOKENS_SQL}} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_distinct({_gram_sql(DECONTAM_N)}) AS grams
      FROM d
    ),
    eg AS (
      SELECT DISTINCT unnest(grams) AS gr FROM g
      WHERE doc_id % {DECONTAM_EVAL_MOD} = 0
    ),
    corpus AS (
      SELECT doc_id, unnest(grams) AS gr FROM g
      WHERE doc_id % {DECONTAM_EVAL_MOD} <> 0
    ),
    coll AS (
      SELECT corpus.doc_id, CAST(COUNT(*) AS BIGINT) AS n_collisions
      FROM corpus JOIN eg USING (gr)
      GROUP BY corpus.doc_id
    )
    SELECT g.doc_id,
           CAST(len(g.grams) AS BIGINT) AS n_grams,
           COALESCE(coll.n_collisions, 0) AS n_collisions,
           COALESCE(coll.n_collisions, 0) >= 1 AS contaminated
    FROM g LEFT JOIN coll ON coll.doc_id = g.doc_id
    WHERE g.doc_id % {DECONTAM_EVAL_MOD} <> 0
    """.replace("{TOKENS_SQL}", TOKENS_SQL),
    tags=("pretrain", "decontamination"),
    bench=True,
)
def pretrain_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION: flag training documents sharing any
    {N}-token shingle with a held-out eval set (doc_id % 97 == 0 here;
    in production, the actual benchmark suites) — the check every
    serious pretraining pipeline runs so test data can't leak into
    training shards (cf. GPT-3 App. C / Gopher App. A 13-gram
    dedup-against-eval).

    Plan: per-doc DISTINCT shingles (narrow map over the shared
    tokenization); when the deduped eval-gram table fits under
    ``DECONTAM_BROADCAST_MAX_GRAMS`` it broadcasts and the corpus side
    never shuffles: scan → flatMap → broadcast-hash semi-count → one
    aggregate on doc_id. Above the ceiling it falls back to a
    shuffle-hash join (round-3 advice: the ``doc_id % 97`` eval set
    here is a TEST STAND-IN that grows ~1% of the corpus — a real
    benchmark suite is small and constant-size, but the gate keeps the
    plan safe either way instead of force-broadcasting an unbounded
    side). Collision counting is exact (distinct grams, integer
    counts); contaminated = ≥1 collision."""
    docs = tables(spark, sf_dir)["documents"]
    # `g` feeds three consumers (eval grams, collision count, final
    # join) — cache it or the text -> tokens -> distinct-grams
    # projection executes three times (measured 3.5x on the bench).
    # MEMORY_AND_DISK: at 100 TB the gram table spills rather than
    # evicting mid-job; it is corpus-sized but column-pruned to
    # (doc_id, grams).
    from pyspark import StorageLevel

    g = spread(docs).select(
        "doc_id",
        F.array_distinct(F.expr(_gram_expr(DECONTAM_N))).alias("grams"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    is_eval = F.col("doc_id") % DECONTAM_EVAL_MOD == 0
    eg = (
        g.where(is_eval)
        .select(F.explode("grams").alias("gr"))
        .distinct()
    )
    # broadcast only under the ceiling (the count is one cheap slice
    # of the cached gram table); otherwise shuffle-hash — the corpus
    # side is the big one, so Spark shuffles grams, not documents
    n_eval_grams = eg.count()
    if n_eval_grams <= DECONTAM_BROADCAST_MAX_GRAMS:
        eval_side = F.broadcast(eg)
    else:
        import logging

        logging.getLogger(__name__).info(
            "pretrain_decontaminate: %d eval grams > ceiling %d; shuffle join",
            n_eval_grams,
            DECONTAM_BROADCAST_MAX_GRAMS,
        )
        eval_side = eg.hint("shuffle_hash")
    corpus = g.where(~is_eval)
    coll = (
        corpus.select("doc_id", F.explode("grams").alias("gr"))
        .join(eval_side, "gr")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_collisions"))
    )
    return (
        corpus.join(coll, "doc_id", "left")
        .select(
            "doc_id",
            F.size("grams").cast("bigint").alias("n_grams"),
            F.coalesce(F.col("n_collisions"), F.lit(0)).cast("bigint").alias(
                "n_collisions"
            ),
            (F.coalesce(F.col("n_collisions"), F.lit(0)) >= 1).alias("contaminated"),
        )
    )


REPEAT_N = 3  # shingle size for the repetition signal
REPEAT_MAX_DUP_X5 = 1  # keep iff 5 * dup_grams <= 1 * n_grams (<= 20%)


@register(
    "pretrain_repetition",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {{TOKENS_SQL}} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, {_gram_sql(REPEAT_N)} AS g3 FROM d
    )
    SELECT doc_id,
           CAST(len(g3) AS BIGINT) AS n_3grams,
           CAST(len(list_distinct(g3)) AS BIGINT) AS n_distinct_3grams,
           round(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
                 / len(g3), 6) AS dup_ratio,
           5 * (len(g3) - len(list_distinct(g3))) <= len(g3) AS keep
    FROM g
    WHERE len(g3) > 0
    """.replace("{TOKENS_SQL}", TOKENS_SQL),
    tags=("pretrain", "quality", "repetition"),
    bench=True,
)
def pretrain_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style REPETITION filter: per-document duplicate-3-gram
    fraction (Rae et al. 2021 §A1.1 use duplicate n-gram fractions,
    n=2..4, to drop boilerplate/spam before training). dup_ratio =
    (n − distinct)/n over the shared tokenization; keep iff ≤ 20%,
    decided by integer cross-multiplication (5·dup ≤ n) so the
    boundary is bit-exact across engines.

    Plan: pure array expressions — grams, distinct, counts all happen
    inside one projection, NO explode and NO shuffle: the whole
    operator runs at scan speed on any corpus size."""
    docs = tables(spark, sf_dir)["documents"]
    g = spread(docs).select("doc_id", F.expr(_gram_expr(REPEAT_N)).alias("g3"))
    n = F.size("g3").cast("bigint")
    d = F.size(F.array_distinct("g3")).cast("bigint")
    return g.where(F.size("g3") > 0).select(
        "doc_id",
        n.alias("n_3grams"),
        d.alias("n_distinct_3grams"),
        F.round((n - d).cast("double") / n, 6).alias("dup_ratio"),
        (F.lit(5) * (n - d) <= n).alias("keep"),
    )


def _keep_decision_oracle() -> str:
    """Composes the three filter oracles as CTEs (the same splicing
    pattern as the influencer composite)."""
    from reddit_can_bigdata_spark.registry import REGISTRY

    q = REGISTRY["pretrain_quality_rules"].oracle
    r = REGISTRY["pretrain_repetition"].oracle
    c = REGISTRY["pretrain_decontaminate"].oracle
    return f"""
    WITH qual AS MATERIALIZED ({q}),
    rep AS MATERIALIZED ({r}),
    dec AS MATERIALIZED ({c})
    SELECT d.doc_id,
           qual.keep AS ok_quality,
           COALESCE(rep.keep, TRUE) AS ok_repetition,
           COALESCE(NOT dec.contaminated, TRUE) AS not_contaminated,
           d.doc_id % {DECONTAM_EVAL_MOD} = 0 AS in_eval,
           (qual.keep AND COALESCE(rep.keep, TRUE)
            AND COALESCE(NOT dec.contaminated, TRUE)
            AND d.doc_id % {DECONTAM_EVAL_MOD} <> 0) AS keep
    FROM documents d
    JOIN qual ON qual.doc_id = d.doc_id
    LEFT JOIN rep ON rep.doc_id = d.doc_id
    LEFT JOIN dec ON dec.doc_id = d.doc_id
    """


@register(
    "pretrain_keep_decision",
    oracle=_keep_decision_oracle(),
    tags=("pretrain", "quality", "composite"),
)
def pretrain_keep_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized FINAL FILTER: one row per document with every
    signal a pipeline's keep/drop decision consumes — Gopher-style
    quality rules AND repetition AND benchmark decontamination AND
    eval-set exclusion (eval docs must never reach training shards).
    This is the table the tokenizer-sharder joins against; computing
    it once instead of per-consumer is why pipelines materialize it.

    Missing-row semantics (documented, oracle-identical): a doc too
    short for 3-grams has no repetition evidence (ok_repetition
    defaults TRUE — the quality length rule owns short docs); an
    eval doc has no decontamination row (vacuously not_contaminated)
    but is excluded by in_eval.

    Plan: three doc_id-keyed aggregates joined on their common key —
    at scale all three sides are corpus-sized but doc_id-partitioned,
    so AQE plans co-partitioned joins with no broadcast pressure."""
    docs = tables(spark, sf_dir)["documents"]
    qual = pretrain_quality_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("ok_quality")
    )
    rep = pretrain_repetition(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("rep_keep")
    )
    dec = pretrain_decontaminate(spark, sf_dir).select("doc_id", "contaminated")
    in_eval = F.col("doc_id") % DECONTAM_EVAL_MOD == 0
    return (
        docs.select("doc_id")
        .join(qual, "doc_id")
        .join(rep, "doc_id", "left")
        .join(dec, "doc_id", "left")
        .select(
            "doc_id",
            "ok_quality",
            F.coalesce(F.col("rep_keep"), F.lit(True)).alias("ok_repetition"),
            F.coalesce(~F.col("contaminated"), F.lit(True)).alias("not_contaminated"),
            in_eval.alias("in_eval"),
            (
                F.col("ok_quality")
                & F.coalesce(F.col("rep_keep"), F.lit(True))
                & F.coalesce(~F.col("contaminated"), F.lit(True))
                & ~in_eval
            ).alias("keep"),
        )
    )


# Bloom-filter decontamination: m bits as BLOOM_WORDS 64-bit words,
# BLOOM_K independent portable hashes per gram. 8 KiB of filter for
# the sf-scale eval set keeps the false-positive rate ~(1-e^{-kn/m})^k;
# production sizes m to the real benchmark-suite gram count.
BLOOM_BITS = 65_536
BLOOM_WORDS = BLOOM_BITS // 64  # 1024 x int64
BLOOM_K = 4


def _bloom_pos_spark(i: int, gram: str) -> str:
    """Spark SQL: i-th portable bloom bit position of a gram expr."""
    return (
        f"cast(conv(substring(md5(concat('b{i}:', {gram})), 1, 8), 16, 10) "
        f"as bigint) % {BLOOM_BITS}"
    )


def _bloom_pos_sql(i: str, gram: str) -> str:
    """DuckDB twin of `_bloom_pos_spark` (i may be a column ref)."""
    return (
        f"(('0x' || substr(md5('b' || CAST({i} AS VARCHAR) || ':' || {gram}), "
        f"1, 8))::BIGINT) % {BLOOM_BITS}"
    )


@register(
    "pretrain_bloom_decontaminate",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_distinct({_gram_sql(DECONTAM_N)}) AS grams
      FROM d
    ),
    eg AS (
      SELECT DISTINCT unnest(grams) AS gr FROM g
      WHERE doc_id % {DECONTAM_EVAL_MOD} = 0
    ),
    bloom AS (
      SELECT DISTINCT {_bloom_pos_sql('i', 'gr')} AS p
      FROM eg, range({BLOOM_K}) t(i)
    ),
    cg AS (
      SELECT doc_id, unnest(grams) AS gr FROM g
      WHERE doc_id % {DECONTAM_EVAL_MOD} <> 0
    ),
    cpos AS (
      SELECT doc_id, gr, i, {_bloom_pos_sql('i', 'gr')} AS p
      FROM cg, range({BLOOM_K}) t(i)
    ),
    hit AS (
      SELECT doc_id, gr, COUNT(*) AS nh
      FROM cpos JOIN bloom USING (p)
      GROUP BY doc_id, gr
    ),
    fl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged
      FROM hit WHERE nh = {BLOOM_K}
      GROUP BY doc_id
    )
    SELECT g.doc_id,
           CAST(len(g.grams) AS BIGINT) AS n_grams,
           COALESCE(fl.n_flagged, 0) AS n_flagged,
           COALESCE(fl.n_flagged, 0) >= 1 AS maybe_contaminated
    FROM g LEFT JOIN fl ON fl.doc_id = g.doc_id
    WHERE g.doc_id % {DECONTAM_EVAL_MOD} <> 0
    """,
    tags=("pretrain", "decontamination", "sketch", "scale"),
    bench=True,
)
def pretrain_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through a BLOOM FILTER of the eval grams — the
    100 TB answer to `pretrain_decontaminate`'s broadcast dilemma: the
    exact path must ship the full distinct eval-gram table (unbounded;
    gated to a shuffle join past 2M grams), while the bloom bitmap is
    a CONSTANT {BLOOM_WORDS}x64-bit = 8 KiB broadcast no matter how
    many grams feed it, and the corpus side never shuffles at all.

    Plan: eval grams -> {BLOOM_K} portable md5 bit positions each ->
    bit_or per 64-bit word -> ONE map-typed row, broadcast; corpus
    membership is a codegen map over the exploded (distinct) gram rows
    testing all {BLOOM_K} bits against the broadcast bitmap, folded
    back to one row per doc by a map-side-partial groupBy — the only
    corpus-keyed shuffle, carrying (doc_id, n_grams, partial count)
    rows, never grams or text.

    Bloom semantics are exactly reproducible (same md5 positions in
    the DuckDB oracle), and one-sided: NO false negatives — every
    truly contaminated doc is flagged (pinned against the exact
    operator in tests/test_pretrain.py); false positives at rate
    ~(1-e^(-kn/m))^k get a second-pass exact check on the (tiny)
    flagged subset in a real pipeline."""
    docs = tables(spark, sf_dir)["documents"]
    g = spread(docs).select(
        "doc_id",
        F.array_distinct(F.expr(_gram_expr(DECONTAM_N))).alias("grams"),
    )
    is_eval = F.col("doc_id") % DECONTAM_EVAL_MOD == 0
    # eval grams -> bit positions -> 64-bit words -> one map row
    pos = (
        g.where(is_eval)
        .select(F.explode("grams").alias("gr"))
        .distinct()
        .select(
            F.explode(
                F.array(
                    *[F.expr(_bloom_pos_spark(i, "gr")) for i in range(BLOOM_K)]
                )
            ).alias("p")
        )
    )
    bloom_row = (
        pos.select(
            F.expr("p div 64").alias("w"),
            F.expr("shiftleft(1L, int(p % 64))").alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("bits"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "bits"))
            ).alias("bm")
        )
    )
    # Corpus membership via EXPLODE + plain-column positions, not a
    # filter/forall HOF (optimization round 12, guide §4.1): higher-
    # order functions are CodegenFallback, so the HOF form evaluated
    # 4 md5+conv per gram in interpreted mode (measured 6.3 cpu-s at
    # sf0.1). Exploding the (distinct) gram array and computing the K
    # positions as real columns keeps the md5 hot path in whole-stage
    # codegen; the per-doc count comes back through one map-side-
    # partially-aggregated groupBy (the only shuffle this adds carries
    # one (doc_id, n_grams, partial count) row per doc per partition).
    # Same md5 bit positions — the oracle's hash scheme is untouched —
    # and A/B-identical output (OPTIMIZATION_r12.md change 1: cpu
    # 6.3 -> 3.6, wall 1.65 -> 1.37, 4948 rows byte-equal).
    exploded = (
        g.where(~is_eval)
        .select(
            "doc_id",
            F.size("grams").cast("bigint").alias("n_grams"),
            F.explode_outer("grams").alias("gr"),
        )
        .crossJoin(F.broadcast(bloom_row))
        .select(
            "doc_id",
            "n_grams",
            "gr",
            "bm",
            *[
                F.expr(_bloom_pos_spark(i, "gr")).alias(f"_p{i}")
                for i in range(BLOOM_K)
            ],
        )
    )
    hit = F.col("gr").isNotNull()
    for i in range(BLOOM_K):
        hit = hit & F.expr(
            f"(coalesce(element_at(bm, _p{i} div 64), 0L)"
            f" & shiftleft(1L, int(_p{i} % 64))) != 0"
        )
    return (
        exploded.select(
            "doc_id", "n_grams", F.when(hit, 1).otherwise(0).alias("h")
        )
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.sum("h").cast("bigint").alias("n_flagged"),
        )
        .withColumn("maybe_contaminated", F.col("n_flagged") >= 1)
    )


# Gopher repetition-suite thresholds (Rae et al. 2021, Table A1):
# top n-gram char fraction <= 0.20 / 0.18 / 0.16 for n = 2/3/4;
# duplicate n-gram char fraction <= 0.15 / 0.12 for n = 5/8.
# Keep decisions use integer cross-multiplication of these ratios so
# the boundary is bit-exact across engines.
GOPHER_NS = (2, 3, 4, 5, 8)


def _gopher_keep_sql(top2, top3, top4, dup5, dup8, total) -> str:
    return (
        f"(5 * {top2} <= {total}) AND (50 * {top3} <= 9 * {total}) "
        f"AND (25 * {top4} <= 4 * {total}) AND (20 * {dup5} <= 3 * {total}) "
        f"AND (25 * {dup8} <= 3 * {total})"
    )


@register(
    "pretrain_gopher_repetition",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, toks,
             CAST(length(array_to_string(toks, ' ')) AS BIGINT) AS total_chars
      FROM (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents)
      WHERE len(toks) >= 2
    ),
    grams AS (
      {" UNION ALL ".join(
        f"SELECT doc_id, total_chars, {n} AS n, "
        f"unnest({_gram_sql(n)}) AS gram FROM d"
        for n in GOPHER_NS)}
    ),
    counts AS (
      SELECT doc_id, total_chars, n, gram, COUNT(*) AS cnt
      FROM grams GROUP BY doc_id, total_chars, n, gram
    ),
    per_n AS (
      SELECT doc_id, total_chars, n,
             MAX(cnt * length(gram)) AS topc,
             COALESCE(SUM(CASE WHEN cnt > 1
                           THEN (cnt - 1) * length(gram) END), 0) AS dupc
      FROM counts GROUP BY doc_id, total_chars, n
    ),
    wide AS (
      SELECT doc_id, total_chars,
             COALESCE(MAX(CASE WHEN n = 2 THEN topc END), 0) AS top2c,
             COALESCE(MAX(CASE WHEN n = 3 THEN topc END), 0) AS top3c,
             COALESCE(MAX(CASE WHEN n = 4 THEN topc END), 0) AS top4c,
             COALESCE(MAX(CASE WHEN n = 5 THEN dupc END), 0) AS dup5c,
             COALESCE(MAX(CASE WHEN n = 8 THEN dupc END), 0) AS dup8c
      FROM per_n GROUP BY doc_id, total_chars
    )
    SELECT doc_id, total_chars,
           round(top2c * 1.0 / total_chars, 6) AS top2_frac,
           round(top3c * 1.0 / total_chars, 6) AS top3_frac,
           round(top4c * 1.0 / total_chars, 6) AS top4_frac,
           round(dup5c * 1.0 / total_chars, 6) AS dup5_frac,
           round(dup8c * 1.0 / total_chars, 6) AS dup8_frac,
           {_gopher_keep_sql('top2c', 'top3c', 'top4c', 'dup5c', 'dup8c',
                             'total_chars')} AS keep
    FROM wide
    """,
    tags=("pretrain", "quality", "repetition", "scale"),
)
def pretrain_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Gopher repetition suite (Rae et al. 2021 §A1.1) —
    extends `pretrain_repetition`'s single dup-3-gram ratio to the
    published family: fraction of characters covered by the heaviest
    n-gram (n=2,3,4; "top" = max over grams of count x char-length, a
    deterministic tie rule) and fraction of characters in repeated
    occurrences of duplicated n-grams (n=5,8: sum of (count-1) x
    char-length). Documents failing any threshold (0.20/0.18/0.16 top,
    0.15/0.12 dup — integer cross-multiplied, bit-exact) are dropped;
    docs under 2 tokens are out of scope.

    Plan: ONE projection builds all five gram arrays (each bound once
    via the `_gram_expr` lambda trick), ONE explode of the tagged
    (n, gram) stream, then two hash aggregates: (doc, n, gram) counts
    -> per-doc conditional rollup. Two linear shuffles total for the
    whole five-metric suite; no joins, no windows, corpus never
    materializes more than its own n-gram stream (same footprint as a
    tokenizer pass)."""
    return gopher_repetition_frame(spread(tables(spark, sf_dir)["documents"]))


def gopher_repetition_frame(docs: DataFrame) -> DataFrame:
    """The Gopher repetition suite over any (doc_id, text) frame —
    the registered query binds it to the documents table; tests feed
    it constructed edge cases (empty text, single tokens, pure
    repetition). Docs under 2 tokens are filtered (no 2-gram exists;
    total_chars of an empty token list would be 0)."""
    tagged = ", ".join(
        f"transform({_gram_expr(n)}, x -> struct({n} as n, x as gram))"
        for n in GOPHER_NS
    )
    base = docs.where(
        F.expr(f"size({TOKENS_EXPR}) >= 2")
    ).select(
        "doc_id",
        F.expr(
            f"cast(length(concat_ws(' ', {TOKENS_EXPR})) as bigint)"
        ).alias("total_chars"),
        F.explode(F.expr(f"flatten(array({tagged}))")).alias("t"),
    ).select("doc_id", "total_chars", "t.n", "t.gram")
    counts = base.groupBy("doc_id", "total_chars", "n", "gram").agg(
        F.count("*").alias("cnt")
    )
    per_n = counts.groupBy("doc_id", "total_chars", "n").agg(
        F.max(F.col("cnt") * F.length("gram")).alias("topc"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("cnt") > 1, (F.col("cnt") - 1) * F.length("gram")
                )
            ),
            F.lit(0),
        ).alias("dupc"),
    )

    def pick(n: int, col: str):
        return F.coalesce(
            F.max(F.when(F.col("n") == n, F.col(col))), F.lit(0)
        ).cast("bigint")

    wide = per_n.groupBy("doc_id", "total_chars").agg(
        pick(2, "topc").alias("top2c"),
        pick(3, "topc").alias("top3c"),
        pick(4, "topc").alias("top4c"),
        pick(5, "dupc").alias("dup5c"),
        pick(8, "dupc").alias("dup8c"),
    )
    t = F.col("total_chars")
    return wide.select(
        "doc_id",
        "total_chars",
        F.round(F.col("top2c") / t, 6).alias("top2_frac"),
        F.round(F.col("top3c") / t, 6).alias("top3_frac"),
        F.round(F.col("top4c") / t, 6).alias("top4_frac"),
        F.round(F.col("dup5c") / t, 6).alias("dup5_frac"),
        F.round(F.col("dup8c") / t, 6).alias("dup8_frac"),
        F.expr(
            _gopher_keep_sql("top2c", "top3c", "top4c", "dup5c", "dup8c",
                             "total_chars")
        ).alias("keep"),
    )


def _ccnet_oracle() -> str:
    from reddit_can_bigdata_spark.registry import REGISTRY

    lp = REGISTRY["pretrain_unigram_logprob"].oracle
    return f"""
    WITH lp AS ({lp})
    SELECT lp.doc_id, d.source, lp.avg_logprob,
           CASE ntile(3) OVER (
                  PARTITION BY d.source
                  ORDER BY lp.avg_logprob DESC, lp.doc_id)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
             ELSE 'tail' END AS ppl_bucket
    FROM lp JOIN documents d ON d.doc_id = lp.doc_id
    """


@register(
    "pretrain_ccnet_buckets",
    oracle=_ccnet_oracle(),
    tags=("pretrain", "quality", "ccnet"),
)
def pretrain_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3:
    sort each language shard by LM perplexity, split into head/
    middle/tail thirds, train preferentially on the head). Here the
    LM score is the engine's unigram log-prob proxy and the shard key
    is ``source``; buckets come from ntile(3) over the ROUNDED score
    (ordering on rounded values + doc_id tie-break keeps the split
    bit-identical across engines — raw last-ulp float drift can't
    reorder).

    Plan: composes the (two-shuffle) unigram score, one broadcast of
    doc->source, and ONE ntile window per source partition — CCNet's
    global per-shard sort, which is exactly what a rank split needs;
    each source sorts independently, so shards parallelize."""
    docs = tables(spark, sf_dir)["documents"]
    lp = pretrain_unigram_logprob(spark, sf_dir).select(
        "doc_id", "avg_logprob"
    )
    j = lp.join(docs.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.desc("avg_logprob"), F.asc("doc_id")
    )
    n = F.ntile(3).over(w)
    return j.select(
        "doc_id",
        "source",
        "avg_logprob",
        F.when(n == 1, "head")
        .when(n == 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


BIGRAM_LAMBDA = 0.75  # interpolation weight on the bigram term


@register(
    "pretrain_bigram_logprob",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
    ),
    uni AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(toks) AS term FROM d) GROUP BY term
    ),
    total AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total_toks FROM uni),
    bg AS (
      SELECT doc_id, unnest({_gram_sql(2)}) AS gr FROM d
    ),
    bcnt AS (
      SELECT gr, CAST(COUNT(*) AS BIGINT) AS bc FROM bg GROUP BY gr
    ),
    model AS (
      SELECT b.gr,
             {BIGRAM_LAMBDA} * (b.bc * 1.0 / up.cnt)
             + {1 - BIGRAM_LAMBDA} * (uc.cnt * 1.0 / total.total_toks) AS p
      FROM bcnt b
      JOIN uni up ON up.term = string_split(b.gr, ' ')[1]
      JOIN uni uc ON uc.term = string_split(b.gr, ' ')[2]
      CROSS JOIN total
    )
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(ln(model.p)), 6) AS avg_logprob2
    FROM bg JOIN model USING (gr)
    GROUP BY bg.doc_id
    """,
    tags=("pretrain", "lm-score"),
)
def pretrain_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated BIGRAM language-model score — the next perplexity
    proxy up from `pretrain_unigram_logprob`: mean ln of
    p(t_i | t_(i-1)) = {BIGRAM_LAMBDA}*c(t_(i-1) t_i)/c(t_(i-1)) +
    {1 - BIGRAM_LAMBDA}*c(t_i)/T (Jelinek-Mercer interpolation, the
    classic smoothing every n-gram quality filter uses so unseen
    bigrams never hit ln(0) — the unigram floor catches them; here
    every corpus bigram is by construction seen, the interpolation
    still reshapes the distribution).

    Plan: the MODEL is assembled model-side — the bigram count table
    joins the (vocabulary-sized, broadcast) unigram table twice for
    its prev/cur counts — and the per-doc scoring is one join of the
    doc bigram stream against that model on the bigram key plus one
    doc_id aggregate. At 100 TB the bigram model is the big state
    (corpus-bounded, vocab^2-capped); it shuffle-joins on the bigram
    key, never broadcasts — same footprint as the dedup shingle
    tables. Rounded to 6dp per the registry's float-sum rule."""
    docs = tables(spark, sf_dir)["documents"]
    from pyspark import StorageLevel

    d = spread(docs).select(
        "doc_id", F.expr(_gram_expr(2)).alias("grams")
    )
    bg = d.select("doc_id", F.explode("grams").alias("gr")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    toks = spread(docs).select(
        F.explode(F.expr(TOKENS_EXPR)).alias("term")
    )
    uni = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    total = uni.agg(F.sum("cnt").cast("double").alias("total_toks"))
    bcnt = bg.groupBy("gr").agg(F.count("*").alias("bc"))
    prev = uni.select(F.col("term").alias("pterm"), F.col("cnt").alias("pc"))
    cur = uni.select(F.col("term").alias("cterm"), F.col("cnt").alias("cc"))
    model = (
        bcnt.join(
            F.broadcast(prev),
            F.expr("element_at(split(gr, ' '), 1)") == F.col("pterm"),
        )
        .join(
            F.broadcast(cur),
            F.expr("element_at(split(gr, ' '), 2)") == F.col("cterm"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "gr",
            (
                F.lit(BIGRAM_LAMBDA) * (F.col("bc") * 1.0 / F.col("pc"))
                + F.lit(1 - BIGRAM_LAMBDA)
                * (F.col("cc") * 1.0 / F.col("total_toks"))
            ).alias("p"),
        )
    )
    return (
        bg.join(model, "gr")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.avg(F.log("p")), 6).alias("avg_logprob2"),
        )
    )


# ---------------------------------------------------------------------------
# round 4: minhash-style containment decontamination + distributed BPE
# ---------------------------------------------------------------------------

CONTAIN_N = 2  # tokens per containment shingle (fuzzy, smaller than
# DECONTAM_N's exact-collision 5-grams: containment is a coverage
# RATIO, so it wants denser shingles)
CONTAIN_THRESHOLD = 0.1  # report pairs covering >= 10% of an eval doc


@register(
    "pretrain_eval_containment",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(list_distinct({{grams}})) AS gram FROM d
    ),
    ev AS (SELECT doc_id AS eval_id, gram FROM g
           WHERE doc_id % {{emod}} = 0),
    evn AS (SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_eval
            FROM ev GROUP BY eval_id),
    pairs AS (
      SELECT c.doc_id, e.eval_id, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM g c JOIN ev e USING (gram)
      WHERE c.doc_id % {{emod}} <> 0
      GROUP BY c.doc_id, e.eval_id
    )
    SELECT doc_id, eval_id, n_common, n_eval,
           round(n_common * 1.0 / n_eval, 6) AS containment
    FROM pairs JOIN evn USING (eval_id)
    WHERE n_common * 1.0 / n_eval >= {CONTAIN_THRESHOLD}
    """,
    tags=("pretrain", "decontamination", "containment"),
)
def pretrain_eval_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination by CONTAINMENT: for every (corpus doc,
    eval doc) pair, the fraction of the eval doc's distinct
    {CONTAIN_N}-gram shingles the corpus doc covers — the
    one-sided-Jaccard check (Lee et al. 2022 / GPT-3 appx C use
    exactly this asymmetric measure) that catches an eval benchmark
    QUOTED INSIDE a larger training document, which symmetric Jaccard
    dilutes and exact n-gram collision misses once a token differs.

    Plan: the eval side is benchmark-sized by construction, so its
    shingle set broadcasts under the same ceiling
    (`DECONTAM_BROADCAST_MAX_GRAMS`) / shuffle-fallback gate as
    `pretrain_decontaminate`; the corpus side is scan -> shingle
    explode -> broadcast-hash join -> one (doc, eval) pair aggregate,
    never shuffled on a corpus-sized key. Pair fan-out is bounded by
    real shingle matches (the join IS the LSH-style blocking: only
    colliding shingles produce candidates). One double division,
    rounded to 6dp; the threshold compares the same unrounded ratio
    on both sides."""
    docs = tables(spark, sf_dir)["documents"]
    g = (
        spread(docs)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(F.expr(_gram_expr(CONTAIN_N)))
            ).alias("gram"),
        )
        .persist()
    )
    is_eval = F.col("doc_id") % DECONTAM_EVAL_MOD == 0
    ev = g.where(is_eval).select(F.col("doc_id").alias("eval_id"), "gram")
    evn = ev.groupBy("eval_id").agg(F.count("*").cast("bigint").alias("n_eval"))
    n_eval_grams = ev.count()
    eval_side = (
        F.broadcast(ev)
        if n_eval_grams <= DECONTAM_BROADCAST_MAX_GRAMS
        else ev.hint("shuffle_hash")
    )
    pairs = (
        g.where(~is_eval)
        .join(eval_side, "gram")
        .groupBy("doc_id", "eval_id")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    ratio = F.col("n_common") * 1.0 / F.col("n_eval")
    return (
        pairs.join(F.broadcast(evn), "eval_id")
        .where(ratio >= CONTAIN_THRESHOLD)
        .select(
            "doc_id",
            "eval_id",
            "n_common",
            "n_eval",
            F.round(ratio, 6).alias("containment"),
        )
    )


# patch the two oracle placeholders that depend on helpers defined
# mid-module (gram SQL + eval modulus)
from reddit_can_bigdata_spark.registry import REGISTRY as _REG  # noqa: E402

_REG["pretrain_eval_containment"].oracle = _REG[
    "pretrain_eval_containment"
].oracle.format(grams=_gram_sql(CONTAIN_N), emod=DECONTAM_EVAL_MOD)


BPE_TOPK_PAIRS = 20
BPE_MIN_PAIR = 2  # stop merging below this support


def _chars_expr(col: str) -> str:
    """Spark: split a word into its character symbols."""
    return f"filter(split({col}, ''), c -> c <> '')"


@register(
    "pretrain_bpe_pair_counts",
    oracle=f"""
    WITH wc AS (
      SELECT term AS word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({TOKENS_SQL}) AS term FROM documents)
      GROUP BY term
    ),
    pos AS (
      SELECT word, cnt, unnest(generate_series(1, len(word) - 1)) AS i
      FROM wc WHERE len(word) >= 2
    )
    SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r,
           CAST(SUM(cnt) AS BIGINT) AS pair_total
    FROM pos
    GROUP BY l, r
    ORDER BY pair_total DESC, l ASC, r ASC
    LIMIT {BPE_TOPK_PAIRS}
    """,
    tags=("pretrain", "bpe", "tokenizer"),
    bench=True,
)
def pretrain_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed hot step of BPE tokenizer TRAINING: adjacent
    symbol-pair counts weighted by word frequency — the aggregation
    every merge iteration of `bpe_learn_merges` re-runs. Registered
    standalone (iteration 0: symbols = characters) so the step the
    cluster actually spends time on carries an exact oracle.

    The decisive scale property of word-frequency BPE: the corpus
    collapses to its VOCABULARY (one token-count shuffle over the
    corpus — the same footprint as word count) and every merge
    iteration after that runs on the vocab table only, which is
    millions of rows at 100 TB, not billions. Top pairs come out via
    TakeOrderedAndProject with a full deterministic (count, l, r)
    tiebreak."""
    docs = tables(spark, sf_dir)["documents"]
    wc = (
        spread(docs)
        .select(F.explode(F.expr(TOKENS_EXPR)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    pairs = wc.where(F.length("word") >= 2).select(
        "cnt",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(word) - 1),"
                f" i -> struct(substring(word, i, 1) AS l,"
                f" substring(word, i + 1, 1) AS r))"
            )
        ).alias("p"),
    )
    return (
        pairs.select("cnt", "p.l", "p.r")
        .groupBy("l", "r")
        .agg(F.sum("cnt").cast("bigint").alias("pair_total"))
        .orderBy(F.desc("pair_total"), F.asc("l"), F.asc("r"))
        .limit(BPE_TOPK_PAIRS)
    )


def _sql_quote(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _merge_fold_expr(syms_col: str, left: str, right: str) -> str:
    """Greedy left-to-right application of ONE merge (left, right) to a
    symbol array, as a Catalyst `aggregate` fold: append each symbol,
    but when the accumulator tail is `left` and the next symbol is
    `right`, replace the tail with the concatenation. Left-to-right
    greediness falls out of the fold order, and a freshly merged
    symbol can't re-merge because its literal differs from `left`
    (the convention reference BPE implementations use)."""
    l, r, m = _sql_quote(left), _sql_quote(right), _sql_quote(left + right)
    return (
        f"aggregate({syms_col}, cast(array() as array<string>), "
        f"(acc, x) -> CASE WHEN size(acc) > 0 "
        f"AND element_at(acc, -1) = {l} AND x = {r} "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array({m})) "
        f"ELSE concat(acc, array(x)) END)"
    )


def bpe_learn_merges(
    spark: SparkSession, docs: DataFrame, n_merges: int = 16
) -> list[tuple[str, str, int]]:
    """Distributed BPE tokenizer training (Sennrich et al. 2016): learn
    `n_merges` merge rules from word frequencies.

    The corpus collapses ONCE to the (word, count) vocabulary table —
    the only corpus-sized shuffle. Each iteration then (1) counts
    adjacent symbol pairs over the vocab weighted by word count,
    (2) takes the argmax with a deterministic (count desc, l, r)
    tiebreak — a 1-row driver scalar, the same legitimate collect
    class as `ml/sentiment.py`'s agreement rate — and (3) applies the
    merge vocab-side with the `aggregate` fold, localCheckpointing so
    N iterations don't stack N fold plans. At 100 TB the vocab is
    ~millions of rows: every iteration is sub-second cluster work;
    this is exactly how industrial BPE trainers (HuggingFace
    tokenizers' word-count mode) structure it.

    Returns [(left, right, pair_count), ...] in merge order."""
    wc = (
        docs.select(F.explode(F.expr(TOKENS_EXPR)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    vocab = wc.select("cnt", F.expr(_chars_expr("word")).alias("syms"))
    vocab = vocab.transform(iter_checkpoint)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = vocab.where(F.size("syms") >= 2).select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(element_at(syms, i) AS l,"
                    " element_at(syms, i + 1) AS r))"
                )
            ).alias("p"),
        )
        best = (
            pairs.select("cnt", "p.l", "p.r")
            .groupBy("l", "r")
            .agg(F.sum("cnt").cast("bigint").alias("total"))
            .orderBy(F.desc("total"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best or best[0].total < BPE_MIN_PAIR:
            break
        l, r, total = best[0].l, best[0].r, int(best[0].total)
        merges.append((l, r, total))
        vocab = vocab.select(
            "cnt", F.expr(_merge_fold_expr("syms", l, r)).alias("syms")
        ).transform(iter_checkpoint)
    return merges


def bpe_segment_frame(docs: DataFrame, merges: list[tuple[str, str, int]]) -> DataFrame:
    """Apply a learned merge list to documents: per-token greedy
    segmentation via the same fold expression, merges applied in
    learned order. Pure narrow map (tokenize -> per-word symbol fold
    chain), embarrassingly parallel at any scale."""
    out = docs.select(
        "doc_id", F.explode(F.expr(TOKENS_EXPR)).alias("word")
    ).withColumn("syms", F.expr(_chars_expr("word")))
    expr = "syms"
    for l, r, _ in merges:
        expr = _merge_fold_expr(expr, l, r)
    return out.select(
        "doc_id", "word", F.expr(expr).alias("pieces")
    )


def bpe_segment_doc_expr(merges: list[tuple[str, str, int]]) -> str:
    """Whole-document BPE segmentation expression, ORDER-PRESERVING:
    tokenize -> per-word char symbols -> the learned merge folds in
    order -> flatten back to the document's piece sequence. One
    narrow map; expression depth grows with the merge count, so long
    merge lists drop out of codegen into interpreted eval — still
    JVM-side, still no Python."""
    inner = _chars_expr("w")
    for left, right, _ in merges:
        inner = _merge_fold_expr(inner, left, right)
    return f"flatten(transform({TOKENS_EXPR}, w -> {inner}))"


def build_tokenized_shards(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_merges: int = 12,
) -> DataFrame:
    """Corpus pipeline stage: train a BPE vocabulary on the corpus,
    segment every document with it (order-preserving), and write the
    tokenized shards partitioned by source — the tokenize step that
    sits between `build_training_shards` and sequence packing in a
    real pretraining pipeline.

    Scale: training touches the corpus once (vocab collapse) and then
    iterates on the vocabulary; segmentation is a narrow map; the
    write is partitioned by source like the chunk shards. Returns the
    one-row stats a scheduler gates on: docs, words, pieces, and the
    pieces-per-word ratio (must be < chars-per-word — the whole point
    of the merges)."""
    docs = tables(spark, sf_dir)["documents"]
    merges = bpe_learn_merges(spark, docs, n_merges=n_merges)
    seg = spread(docs).select(
        "doc_id",
        "source",
        F.expr(bpe_segment_doc_expr(merges)).alias("pieces"),
        F.size(F.expr(TOKENS_EXPR)).alias("n_words"),
    )
    from pyspark.sql import Observation

    obs = Observation("tokenize_write")
    (
        seg.observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum(F.size("pieces")).alias("n_pieces"),
        )
        .write.mode("overwrite")
        .partitionBy("source")
        .parquet(out_dir)
    )
    got = obs.get
    return spark.createDataFrame(
        [
            (
                int(got["n_docs"]),
                int(got["n_words"]),
                int(got["n_pieces"]),
                len(merges),
                round(got["n_pieces"] / max(got["n_words"], 1), 6),
            )
        ],
        "n_docs bigint, n_words bigint, n_pieces bigint,"
        " n_merges int, pieces_per_word double",
    )


@register(
    "pretrain_pack_firstfit",
    oracle=f"""
    WITH RECURSIVE t AS (
      SELECT source, doc_id,
             CAST(least(len({TOKENS_SQL}), {PACK_BUDGET}) AS BIGINT) AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ),
    pack AS (
      SELECT source, doc_id, rn, n_tokens,
             CAST(1 AS BIGINT) AS bin_id, n_tokens AS bin_fill
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.source, t.doc_id, t.rn, t.n_tokens,
             CASE WHEN p.bin_fill + t.n_tokens <= {PACK_BUDGET}
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN p.bin_fill + t.n_tokens <= {PACK_BUDGET}
                  THEN p.bin_fill + t.n_tokens ELSE t.n_tokens END
      -- IS NOT DISTINCT FROM: a NULL shard key is one group (matching
      -- Spark's groupBy semantics); plain '=' would break the chain
      -- after rn=1 and silently drop the rest of the NULL shard
      -- (found by the nulls-axis differential fuzz, round 8)
      FROM pack p JOIN t ON t.source IS NOT DISTINCT FROM p.source
                        AND t.rn = p.rn + 1
    )
    SELECT source, doc_id, n_tokens, bin_id, bin_fill FROM pack
    """,
    tags=("pretrain", "packing", "stateful"),
)
def pretrain_pack_firstfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NO-SPLIT sequence packing (next-fit bin packing): the SFT-style
    packer — documents must not straddle training sequences, so within
    each ``source`` shard (doc_id order) a doc that would overflow the
    open bin closes it and starts the next; docs longer than the
    {budget}-token budget are truncated to it. Complements
    `pretrain_sequence_packing` (the concat-and-chunk pretraining
    packer, where straddling is allowed and everything is window
    arithmetic).

    This one is the repo's canonical applyInPandas case: the open
    bin's fill is PREFIX-DEPENDENT state (each decision depends on
    every predecessor's), which no window frame expresses — exactly
    clause (b) of the custom-operator ladder. One Arrow batch per
    shard, a tight integer loop inside, bin state is two ints. At
    100 TB the parallel unit is the shard (same as tokenization), the
    per-shard work is a linear scan, and nothing crosses Python except
    (doc_id, n_tokens) pairs — column-pruned before the groupBy.
    The DuckDB oracle walks the same recurrence as a recursive CTE,
    so the sequential semantics are hash-checked, not just replayed.
    """
    import pandas as pd

    docs = tables(spark, sf_dir)["documents"]
    t = docs.select(
        "source",
        "doc_id",
        F.least(
            F.size(F.expr(TOKENS_EXPR)), F.lit(PACK_BUDGET)
        ).cast("bigint").alias("n_tokens"),
    )

    schema = (
        "source string, doc_id bigint, n_tokens bigint,"
        " bin_id bigint, bin_fill bigint"
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bin_id, fill = 1, 0
        bins, fills = [], []
        for tok in pdf["n_tokens"]:
            if fill + tok <= PACK_BUDGET and len(bins) > 0:
                fill += int(tok)
            else:
                if len(bins) > 0:
                    bin_id += 1
                fill = int(tok)
            bins.append(bin_id)
            fills.append(fill)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        pdf["bin_fill"] = pd.Series(fills, dtype="int64")
        return pdf[["source", "doc_id", "n_tokens", "bin_id", "bin_fill"]]

    return t.groupBy("source").applyInPandas(pack, schema)


pretrain_pack_firstfit.__doc__ = pretrain_pack_firstfit.__doc__.format(
    budget=PACK_BUDGET
)
