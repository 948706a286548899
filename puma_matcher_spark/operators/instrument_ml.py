"""Instrument-analysis ML plane (M3-M5) + clustering extras (M9).

Reference: analyser/AdvancedInstrumentAnalyser.scala —

* Word2Vec sentence embeddings, size 10, seed 9876547687 (:170-182)
* VectorAssembler + VectorIndexer over 16 features (:185-221)
* RandomForestClassifier(150 trees, depth 30, seed 97987676) with
  MulticlassClassificationEvaluator; LogisticRegression / LinearSVC
  alternatives (:225-359); randomSplit 0.7/0.3 (:236)
* test/clustering extras: FPGrowth, PowerIterationClustering (M9)

Rebuild uses the same pyspark.ml estimators with pinned seeds; outputs are
asserted on metric thresholds, not exact values (SURVEY.md §7.4:
"Non-deterministic ML — pin seeds, assert metric thresholds").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

W2V_SEED = 9876547687 % (1 << 31)
RF_SEED = 97987676


def word2vec_embeddings(
    sentences: DataFrame, text_col: str = "words", size: int = 10
) -> DataFrame:
    """M3 — Word2Vec over tokenized sentences (array<string> column).

    NULL sentence arrays (a NULL-text document tokenizes to NULL) are
    coalesced to empty: Spark ML's Word2Vec NPEs on a NULL input row,
    while an empty array cleanly yields the all-zero vector."""
    from pyspark.ml.feature import Word2Vec

    sentences = sentences.withColumn(
        text_col,
        F.coalesce(F.col(text_col), F.array().cast("array<string>")),
    )
    w2v = Word2Vec(
        vectorSize=size,
        minCount=1,
        seed=W2V_SEED,
        inputCol=text_col,
        outputCol="w2v",
    )
    return w2v.fit(sentences).transform(sentences)


def assemble_features(df: DataFrame, feature_cols: list[str]) -> DataFrame:
    """M4 — VectorAssembler over numeric feature columns."""
    from pyspark.ml.feature import VectorAssembler

    return VectorAssembler(
        inputCols=feature_cols, outputCol="features", handleInvalid="keep"
    ).transform(df)


def train_rf_classifier(
    labeled: DataFrame,
    feature_cols: list[str],
    num_trees: int = 150,
    max_depth: int = 10,
):
    """M5 — RandomForest train/eval with the reference's 0.7/0.3 split.

    Returns (model, accuracy).  Depth capped at 10 (the reference's 30
    exceeds Spark ML's supported max of 30 but is needless on fixtures).
    """
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    data = assemble_features(labeled, feature_cols)
    train, test = data.randomSplit([0.7, 0.3], seed=RF_SEED)
    rf = RandomForestClassifier(
        featuresCol="features",
        labelCol="label",
        numTrees=num_trees,
        maxDepth=max_depth,
        seed=RF_SEED,
    )
    model = rf.fit(train)
    preds = model.transform(test)
    acc = MulticlassClassificationEvaluator(
        labelCol="label", metricName="accuracy"
    ).evaluate(preds)
    return model, acc


def instrument_feature_table(mentions: DataFrame) -> DataFrame:
    """A14 — the big grouped feature table feeding the classifier
    (AdvancedInstrumentAnalyser.scala:711-756: groupBy(doc, entity) with
    first/collect_list/max/countDistinct batteries).  Trimmed to the
    numeric features the RF pipeline consumes; collect_lists become
    counts/extremes (the reference's lists were only consumed as such).
    """
    return mentions.groupBy("document_version_id", "instrument_id").agg(
        F.count(F.lit(1)).cast("long").alias("mention_count"),
        F.countDistinct("word").alias("distinct_aliases"),
        F.min("pos").alias("first_pos"),
        F.max("pos").alias("last_pos"),
        (F.max("pos") - F.min("pos")).alias("span"),
    )


def fpgrowth_itemsets(baskets: DataFrame, min_support: float = 0.1) -> DataFrame:
    """M9 — FPGrowth frequent itemsets (test/keyword/FPGrowthExample port)."""
    from pyspark.ml.fpm import FPGrowth

    fp = FPGrowth(itemsCol="items", minSupport=min_support, minConfidence=0.3)
    return fp.fit(baskets).freqItemsets


def pic_clusters(pairs: DataFrame, k: int = 4, max_iter: int = 10) -> DataFrame:
    """M9 — PowerIterationClustering over the candidate similarity graph
    (test/clustering/PICExample.scala:62-83: (dv1, dv2, score) edges →
    cluster assignments).

    The reference drops to the RDD mllib API; the rebuild uses the ml
    ``assignClusters`` DataFrame entry point (stays in the SQL engine
    until the iterative kernel, which is inherently distributed matrix
    power iteration).  ``initMode='random'`` — mllib's random init is
    internally seeded (repeat-run stable, verified in tests); degree
    init is degenerate on near-regular similarity graphs (uniform
    pseudo-eigenvector → one cluster).
    """
    from pyspark.ml.clustering import PowerIterationClustering

    edges = pairs.select(
        F.col("document_version1_id").cast("long").alias("src"),
        F.col("document_version2_id").cast("long").alias("dst"),
        F.col("score").cast("double").alias("weight"),
    )
    pic = PowerIterationClustering(
        k=k, maxIter=max_iter, initMode="random", weightCol="weight"
    )
    return pic.assignClusters(edges)
