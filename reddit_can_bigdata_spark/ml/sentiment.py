"""Batch ML sentiment pipeline (SURVEY.md §2.10, M1-M10).

Re-expresses `spark-ml-sentiment/spark_ml_sentiment.py` Spark-first.
The reference is already Spark ML, so the pipeline stages carry over
1:1 (Tokenizer → StopWordsRemover → CountVectorizer → IDF →
VectorAssembler → {LogisticRegression, RandomForest, NaiveBayes});
what changes is everything around them:

- input is a table scan (`spark.read.parquet`), not a Mongo full scan
  materialized on the driver (`spark_ml_sentiment.py:71-77`);
- the VADER-style lexicon labeler is a deterministic built-in
  expression chain, not a row-at-a-time Python UDF
  (`spark_ml_sentiment.py:108-138`) — no JVM↔Python round trip;
- results are written set-oriented, never ``toPandas()`` + per-row
  upsert (`spark_ml_sentiment.py:402-417`).

The lexicon here is a ~120-word common-English sentiment word list
inlined below (the real VADER lexicon is an external dependency not
present in this container; plain unigram polarity words are the
standard public-domain approximation); the *pipeline shape*, seeding
(seed=42, `spark_ml_sentiment.py:208,254`), feature layout (text
TF-IDF + numeric features), model-selection-by-accuracy and
agreement-rate reporting all mirror the reference.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from reddit_can_bigdata_spark.operators.common import materialize, materialized

# Unigram polarity lexicon — common-English sentiment words in the
# style of the Hu-Liu opinion lexicon / VADER's unigram core. Inlined
# so the labeler stays a pure Catalyst expression and the DuckDB
# oracle can embed the identical list.
POSITIVE_WORDS = (
    "good", "great", "excellent", "amazing", "awesome", "fantastic",
    "wonderful", "love", "loved", "loving", "best", "better", "win",
    "winner", "winning", "won", "happy", "joy", "glad", "beautiful",
    "brilliant", "perfect", "nice", "superb", "outstanding",
    "impressive", "positive", "success", "successful", "strong",
    "fast", "quick", "smooth", "easy", "helpful", "friendly", "fun",
    "enjoy", "enjoyed", "excited", "exciting", "incredible",
    "favorite", "reliable", "efficient", "improved", "improvement",
    "gain", "value", "valuable", "useful", "clean", "clear",
    "correct", "stable", "secure", "robust", "elegant", "simple",
    "powerful", "champion", "victory", "celebrate", "proud",
    "thanks", "thank", "delight", "delightful", "pleasant", "bravo",
)
NEGATIVE_WORDS = (
    "bad", "terrible", "awful", "horrible", "worst", "worse", "hate",
    "hated", "sad", "angry", "mad", "fail", "failed", "failure",
    "failing", "broken", "bug", "buggy", "error", "errors", "crash",
    "crashed", "slow", "sluggish", "lag", "laggy", "problem",
    "problems", "issue", "issues", "wrong", "poor", "weak", "ugly",
    "annoying", "frustrating", "frustrated", "useless", "waste",
    "wasted", "difficult", "confusing", "confused", "unstable",
    "insecure", "unreliable", "messy", "dirty", "defeat", "loss",
    "lose", "losing", "lost", "pain", "painful", "disappointing",
    "disappointed", "complain", "complaint", "negative", "disaster",
    "mess", "mediocre", "boring", "noisy", "garbage", "trash",
    "scam", "fraud", "worthless",
)


def lexicon_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic lexicon sentiment: (pos_hits - neg_hits) /
    (pos_hits + neg_hits), labeled positive/negative/neutral at ±0.05
    (the VADER thresholds, `spark_ml_sentiment.py:127-133`). JVM-side,
    no Python UDF; but each hit count's ``filter`` lambda is a
    higher-order function, which Catalyst evaluates interpreted
    (CodegenFallback) outside whole-stage codegen. The score reads the
    ``pos_hits`` / ``neg_hits`` columns, so each count is evaluated
    once per row, not once per use."""

    def hits(words: tuple[str, ...]) -> F.Column:
        lst = ", ".join(f"'{w}'" for w in words)
        return F.expr(f"size(filter(split(lower({text_col}), ' '), t -> t IN ({lst})))")

    pos, neg = F.col("pos_hits"), F.col("neg_hits")
    score = F.when(pos + neg > 0, (pos - neg) / (pos + neg)).otherwise(F.lit(0.0))
    return df.withColumns(
        {"pos_hits": hits(POSITIVE_WORDS), "neg_hits": hits(NEGATIVE_WORDS)}
    ).withColumn("lex_score", score).withColumn(
        "lex_label",
        F.when(F.col("lex_score") >= 0.05, "positive")
        .when(F.col("lex_score") <= -0.05, "negative")
        .otherwise("neutral"),
    )


@dataclass
class SentimentResult:
    model_name: str
    accuracy: float
    predictions: DataFrame  # id, lex_label, ml_prediction
    agreement_rate: float


def train_sentiment(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    seed: int = 42) -> SentimentResult:
    """M1-M10: fit LR / RF / NB on lexicon labels, pick the best by
    multiclass accuracy, report VADER↔ML agreement (J4).

    Mirrors `spark_ml_sentiment.py:186-340`: Tokenizer,
    StopWordsRemover, CountVectorizer(vocabSize=2000, minDF=2), IDF,
    StringIndexer(handleInvalid=keep), VectorAssembler(text + numeric,
    handleInvalid=skip), 80/20 split seed=42, LR(maxIter=100,
    regParam=0.01), RF(numTrees=50, maxDepth=10, seed=42),
    NB(smoothing=1.0), IndexToString for readable labels.
    """
    from pyspark.ml.classification import (
        LogisticRegression,
        NaiveBayes,
        RandomForestClassifier,
    )
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.feature import (
        IDF,
        CountVectorizer,
        IndexToString,
        StopWordsRemover,
        StringIndexer,
        Tokenizer,
        VectorAssembler,
    )

    from reddit_can_bigdata_spark.functions.text import emoji_counts, word_count_expr

    # Partitioning note (optimization round 11): rebalancing the input
    # here was MEASURED and REJECTED — LR's 100 treeAggregate
    # iterations are per-job-latency bound, so going 1 → 32 cached
    # partitions took its fit from 6.6s to 21.4s while the feature fits
    # (driver-latency bound) barely moved; and any repartition ahead of
    # randomSplit changes split membership, breaking byte-equality with
    # the reference-shaped form pinned in tests/test_ml_sentiment.py.
    _, _, emoji_score = emoji_counts(F.col(text_col))
    labeled = (
        lexicon_score(docs, text_col)
        .withColumn("text_length", F.length(text_col).cast("double"))
        .withColumn("word_count", word_count_expr(F.col(text_col)).cast("double"))
        .withColumn("emoji_score", emoji_score.cast("double"))
    )
    # Reference-shaped numeric features (M6, `spark_ml_sentiment.py:
    # 199-203`): text_length / word_count / emoji_score always, plus
    # the post-engagement analogs (score, num_comments) when the input
    # carries them (Reddit posts do; the documents corpus doesn't).
    numeric = ["text_length", "word_count", "emoji_score", "pos_hits", "neg_hits"]
    for opt in ("score", "num_comments"):
        if opt in docs.columns:
            labeled = labeled.withColumn(opt, F.col(opt).cast("double"))
            numeric.append(opt)

    tokenizer = Tokenizer(inputCol=text_col, outputCol="tokens")
    remover = StopWordsRemover(inputCol="tokens", outputCol="filtered")
    cv = CountVectorizer(inputCol="filtered", outputCol="tf", vocabSize=2000, minDF=2.0)
    idf = IDF(inputCol="tf", outputCol="tfidf")
    indexer = StringIndexer(inputCol="lex_label", outputCol="label", handleInvalid="keep")
    assembler = VectorAssembler(
        inputCols=["tfidf"] + numeric,
        outputCol="features",
        handleInvalid="skip",
    )
    base = [tokenizer, remover, cv, idf, indexer, assembler]

    classifiers = {
        "logistic_regression": LogisticRegression(maxIter=100, regParam=0.01),
        "random_forest": RandomForestClassifier(numTrees=50, maxDepth=10, seed=seed),
        "naive_bayes": NaiveBayes(smoothing=1.0),
    }

    # Pin the labeled corpus: it feeds the split, the feature fit, and
    # the final full-dataset transform — unpinned, the lexicon-scoring
    # lineage re-executes four times (the reference has the same shape
    # and the same cost, `spark_ml_sentiment.py:223-296`).
    with materialized(labeled) as labeled:
        train, test = labeled.randomSplit([0.8, 0.2], seed=seed)
        evaluator = MulticlassClassificationEvaluator(
            labelCol="label", predictionCol="prediction", metricName="accuracy"
        )

        # Fit the six feature stages ONCE and share the featurized train /
        # test across the three classifier fits. Semantically identical to
        # fitting three full `Pipeline(base + [clf])`s (the reference's
        # structure, `spark_ml_sentiment.py:223-296`): the feature stages
        # are deterministic given `train`, so each full pipeline would fit
        # byte-identical feature models — this just stops re-scanning and
        # re-featurizing the corpus once per classifier.
        #
        # The fit itself is hand-sequenced rather than `Pipeline.fit`
        # (optimization round 11, guide §2.6 overlap + §5 caching): the
        # token transform is pinned so the CountVectorizer and IDF fits
        # don't each re-tokenize the corpus, and the StringIndexer fit —
        # which reads only the untouched ``lex_label`` column, so its
        # model is identical wherever in the sequence it fits — runs
        # CONCURRENTLY with the CV→IDF chain. The assembled PipelineModel
        # transforms in the exact stage order Pipeline.fit would produce
        # (equivalence pinned by the refactor guard in
        # tests/test_ml_sentiment.py).
        from concurrent.futures import ThreadPoolExecutor
        from pyspark.ml import PipelineModel

        tokenizer, remover, cv, idf, indexer, assembler = base
        # pin only the one column the CV fit and the CV->IDF chain read
        # (round 12, guide §5 — same trim as the featurized splits below):
        # identical fitted models, smaller pinned rows
        with materialized(
            remover.transform(tokenizer.transform(train)).select("filtered")
        ) as toks, ThreadPoolExecutor(2) as fpool:
            f_si = fpool.submit(indexer.fit, train)
            cv_model = cv.fit(toks)
            idf_model = idf.fit(cv_model.transform(toks))
            si_model = f_si.result()
        feat_model = PipelineModel(
            stages=[tokenizer, remover, cv_model, idf_model, si_model, assembler]
        )

        # The three classifier fits are independent given the shared
        # featurized splits, so submit them CONCURRENTLY (the same
        # concurrent-job-submission pattern as the influencer composite):
        # LR's 100 small iteration jobs, RF's per-tree jobs, and NB's one
        # pass interleave on the cluster instead of leaving it idle
        # between stages. Results are identical to the serial loop — each
        # fit's computation is self-contained and seeded — and selection
        # stays deterministic because the reduce below walks the original
        # registration order, never completion order.
        def _fit_and_score(item):
            mname, clf = item
            # job descriptions are thread-local (guide §1.5): label each
            # classifier's jobs so the concurrent fits are attributable in
            # the UI/status store
            spark = feat_train.sparkSession
            spark.sparkContext.setJobDescription(f"sentiment fit: {mname}")
            try:
                model = clf.fit(feat_train)
                # per-thread evaluator copy: evaluate() is read-only over its
                # params, but copies are free and remove any sharing question
                acc = evaluator.copy().evaluate(model.transform(feat_test))
            finally:
                # the pool thread is reused: a failed fit must not leave its
                # label on the next job submitted from this thread
                spark.sparkContext.setJobDescription(None)
            return mname, (model, acc)

        # Pin only the two columns the fits/evaluations read (optimization
        # round 12, guide §5): the full transform carries the text, token
        # arrays and tf/tfidf vectors, which would otherwise be held for
        # nothing — the classifier fits consume (label, features), the
        # evaluator (label, prediction from features). Row set, order and
        # values are untouched, so models and accuracies are bit-identical
        # (pinned by the refactor guard).
        with materialized(
            feat_model.transform(train).select("label", "features")
        ) as feat_train, materialized(
            feat_model.transform(test).select("label", "features")
        ) as feat_test, ThreadPoolExecutor(max_workers=len(classifiers)) as pool:
            scored = dict(pool.map(_fit_and_score, classifiers.items()))
        best_name, best_acc, best_clf = "", -1.0, None
        for mname in classifiers:
            model, acc = scored[mname]
            if acc > best_acc:
                best_name, best_acc, best_clf = mname, acc, model

        full = best_clf.transform(feat_model.transform(labeled))
        labels = feat_model.stages[4].labelsArray[0]  # StringIndexer stage
        to_str = IndexToString(
            inputCol="prediction", outputCol="ml_prediction", labels=list(labels)
        )
        # Eager barrier inside the labeled scope (optimization round 12):
        # the full corpus is featurized + scored by the best model exactly
        # ONCE, before the scope releases `labeled`, and every later
        # consumer (the agreement aggregate, run_pipeline's
        # predictions.count, caller writes) reads the materialized rows.
        preds = materialize(
            to_str.transform(full).select(
                F.col(id_col).alias("id"), "lex_label", "ml_prediction"
            )
        )
    agree = preds.agg(
        (F.sum((F.col("lex_label") == F.col("ml_prediction")).cast("long")) / F.count("*"))
        .alias("r")
    ).collect()[0]["r"]
    return SentimentResult(best_name, float(best_acc), preds, float(agree))
