"""M1-M10 — the reference's sklearn surface re-expressed on spark.ml.

Reference (process_logs_v10.py:220-447 / v9:240-330, whose semantics are
canonical where v10 is buggy — SURVEY.md §2.13): stratified split, logistic
regression (max_iter=1000), random forest (100 trees, seed 42), precision/
recall/accuracy/AUC with a single-class guard, coefficient / importance
rankings, correlation pruning, PCA(2). Everything here is distributed
(spark.ml estimators over VectorUDT columns); only the k×k correlation
threshold scan runs on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the reference's constants (process_logs_v10.py:272-343,436): the
#: random_state of the split and the forest, LogisticRegression's
#: max_iter, the forest's n_estimators, the 60/20/20 train/val/test
#: split and PCA's n_components
SEED = 42
LR_MAX_ITER = 1000
RF_NUM_TREES = 100
SPLIT_FRACTIONS = (0.6, 0.2, 0.2)
PCA_K = 2


def assemble(df: DataFrame, feature_cols: list[str]) -> DataFrame:
    """M10 — explicit vector assembly into ``features`` (implicit in
    pandas/sklearn)."""
    from pyspark.ml.feature import VectorAssembler

    va = VectorAssembler(inputCols=feature_cols, outputCol="features", handleInvalid="keep")
    return va.transform(df)


def prune_correlated(
    df: DataFrame, feature_cols: list[str], threshold: float = 0.7
) -> tuple[DataFrame, list[str]]:
    """M9 — correlation-pruning feature selector (A9+A10 as a step;
    thresholds 0.7 LR / 0.9 RF, process_logs_v10.py:253-257,325-328).
    Returns (pruned df, kept columns)."""
    from ..operators import stats

    drop = stats.correlated_columns(df, feature_cols, threshold)
    kept = [c for c in feature_cols if c not in drop]
    return df.drop(*drop), kept


def stratified_split(
    df: DataFrame, test_frac: float = 0.2, seed: int = SEED
) -> tuple[DataFrame, DataFrame]:
    """M1 — stratified train/test split (train_test_split(stratify=y),
    process_logs_v10.py:272-273): one seeded Bernoulli draw per window.
    The window stays in train when ``u < 1 - test_frac``, where ``u`` is
    the top 53 bits of ``xxhash64(window_id, seed)`` scaled to [0, 1);
    the rest is test. So the split is a partition of the input, every
    label gets the same expected fraction, and a window's side depends
    on its id alone — not on partitioning, row order or caching.

    ``df`` needs a unique ``window_id`` column.
    """
    u = F.shiftrightunsigned(F.xxhash64("window_id", F.lit(seed)), 11) / float(1 << 53)
    keep = u < 1.0 - test_frac
    return df.filter(keep), df.filter(~keep)


def three_way_split(df: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """M1 — the reference's ``SPLIT_FRACTIONS`` train/val/test split
    (process_logs_v10.py:272-273 applies train_test_split twice): a
    ``stratified_split`` with ``SEED`` cuts train from the rest, then one
    with ``SEED + 1`` cuts the rest into val and test.
    """
    train_f, val_f, test_f = SPLIT_FRACTIONS
    train, rest = stratified_split(df, 1.0 - train_f, SEED)
    val, test = stratified_split(rest, test_f / (val_f + test_f), SEED + 1)
    return train, val, test


def fit_logistic_regression(train: DataFrame):
    """M2 — LogisticRegression(max_iter=1000) (process_logs_v10.py:279)."""
    from pyspark.ml.classification import LogisticRegression

    lr = LogisticRegression(maxIter=LR_MAX_ITER, featuresCol="features", labelCol="label")
    return lr.fit(train)


def fit_random_forest(train: DataFrame):
    """M3 — RandomForestClassifier(n_estimators=100, random_state=42)
    (process_logs_v10.py:338-343)."""
    from pyspark.ml.classification import RandomForestClassifier

    rf = RandomForestClassifier(
        numTrees=RF_NUM_TREES, seed=SEED, featuresCol="features", labelCol="label"
    )
    return rf.fit(train)


def evaluate_classifier(predictions: DataFrame) -> dict[str, float | None]:
    """M4 — accuracy, precision and recall of label 1.0, and AUC, with
    the reference's single-class guard (process_logs_v10.py:286-303:
    AUC is skipped when the test labels are single-class).

    One ``(label, prediction)`` count gives the confusion matrix; the
    first three are ratios of its cells, as ``MulticlassMetrics``
    computes them (precision is 0.0 when nothing is predicted 1.0,
    accuracy NaN on an empty slice). Precision and recall are None when
    no label is 1.0.
    """
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    cells = {
        (r[0], r[1]): r[2]
        for r in predictions.groupBy("label", "prediction").count().collect()
    }
    labels = {lab for lab, _ in cells}
    n = sum(cells.values())
    tp = cells.get((1.0, 1.0), 0)
    predicted_pos = sum(c for (_, pred), c in cells.items() if pred == 1.0)
    actual_pos = sum(c for (lab, _), c in cells.items() if lab == 1.0)
    correct = sum(c for (lab, pred), c in cells.items() if lab == pred)
    out: dict[str, float | None] = {
        "accuracy": correct / n if n else float("nan"),
        "precision": (tp / predicted_pos if predicted_pos else 0.0)
        if actual_pos else None,
        "recall": tp / actual_pos if actual_pos else None,
    }
    if len(labels) >= 2:
        out["auc"] = BinaryClassificationEvaluator(
            labelCol="label", rawPredictionCol="rawPrediction", metricName="areaUnderROC"
        ).evaluate(predictions)
    else:  # single-class guard (process_logs_v10.py:291-295)
        out["auc"] = None
    return out


def lr_importances(model, feature_cols: list[str]) -> list[tuple[str, float]]:
    """M5 — |coefficient|-ranked features (process_logs_v10.py:382-397)."""
    coefs = [float(c) for c in model.coefficients]
    pairs = list(zip(feature_cols, coefs))
    return sorted(pairs, key=lambda kv: (-abs(kv[1]), kv[0]))


def rf_importances(model, feature_cols: list[str]) -> list[tuple[str, float]]:
    """M6 — impurity importances sorted (process_logs_v10.py:400-416)."""
    imps = [float(v) for v in model.featureImportances.toArray()]
    pairs = list(zip(feature_cols, imps))
    return sorted(pairs, key=lambda kv: (-kv[1], kv[0]))


def fit_pca(df: DataFrame, k: int = PCA_K):
    """M8 — PCA(n_components=2) over ``features``
    (process_logs_v10.py:436-447)."""
    from pyspark.ml.feature import PCA

    return PCA(k=k, inputCol="features", outputCol="pca_features").fit(df)
