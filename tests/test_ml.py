import math

import numpy as np
from pyspark.sql import functions as F

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.ml import anomaly, pipeline


def _dataset(spark, n=200, seed=3):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        x1 = float(rng.normal(0, 1))
        x2 = float(x1 * 2 + rng.normal(0, 0.01))  # collinear with x1
        x3 = float(rng.normal(5, 2))
        label = 1.0 if x1 + x3 > 6 else 0.0
        rows.append((i, x1, x2, x3, label))
    return spark.createDataFrame(
        rows, "window_id long, x1 double, x2 double, x3 double, label double"
    )


def test_correlation_pruner_drops_collinear(spark):
    df = _dataset(spark)
    pruned, kept = pipeline.prune_correlated(df, ["x1", "x2", "x3"], threshold=0.7)
    assert kept == ["x1", "x3"]
    assert "x2" not in pruned.columns


def test_stratified_split_partitions_data(spark):
    df = _dataset(spark)
    train, test = pipeline.stratified_split(df, test_frac=0.2, seed=42)
    n, tr, te = df.count(), train.count(), test.count()
    assert tr + te == n
    assert 0.6 * n < tr < 0.95 * n
    # both classes present in train
    assert train.select("label").distinct().count() == 2


def test_three_way_split_partitions_data(spark):
    df = _dataset(spark).cache()
    train, val, test = pipeline.three_way_split(df)
    n = df.count()
    parts = [train.count(), val.count(), test.count()]
    assert sum(parts) == n
    assert parts[0] > parts[1] and parts[0] > parts[2]
    # disjoint
    assert train.join(val, "window_id", "inner").count() == 0
    assert train.join(test, "window_id", "inner").count() == 0
    assert val.join(test, "window_id", "inner").count() == 0

    def sides(frame):
        return [sorted(r.window_id for r in d.select("window_id").collect())
                for d in pipeline.three_way_split(frame)]

    # a window's side is a function of its id alone: the same
    # membership under any partitioning or row order
    want = sides(df)
    assert sum(map(len, want)) == n
    reversed_rows = spark.createDataFrame(df.collect()[::-1], df.schema)
    for layout in (df.repartition(3), df.coalesce(1), reversed_rows):
        assert sides(layout) == want
    df.unpersist()


def test_lr_end_to_end_with_metrics(spark):
    df = pipeline.assemble(_dataset(spark), ["x1", "x3"])
    train, test = pipeline.stratified_split(df, test_frac=0.25, seed=42)
    model = pipeline.fit_logistic_regression(train)
    metrics = pipeline.evaluate_classifier(model.transform(test))
    assert metrics["accuracy"] > 0.8
    assert metrics["auc"] > 0.8
    imps = pipeline.lr_importances(model, ["x1", "x3"])
    assert len(imps) == 2 and abs(imps[0][1]) >= abs(imps[1][1])


def test_single_class_auc_guard(spark):
    df = pipeline.assemble(_dataset(spark), ["x1", "x3"])
    model = pipeline.fit_logistic_regression(df)
    # evaluate on a single-class slice: AUC must be skipped, not crash
    one_class = df.filter(F.col("label") == 0.0)
    metrics = pipeline.evaluate_classifier(model.transform(one_class))
    assert metrics["auc"] is None  # reference guard process_logs_v10.py:291-295
    assert metrics["accuracy"] is not None


def test_evaluate_classifier_matches_spark_evaluators(spark):
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    df = pipeline.assemble(_dataset(spark), ["x1", "x3"])
    scored = pipeline.fit_logistic_regression(df).transform(df).cache()
    frames = {
        "mixed": scored,
        "no predicted positive": scored.withColumn("prediction", F.lit(0.0)),
        "one class": scored.filter(F.col("label") == 1.0),
    }
    for name, pred in frames.items():
        got = pipeline.evaluate_classifier(pred)
        for metric, key in [("accuracy", "accuracy"), ("precisionByLabel", "precision"),
                            ("recallByLabel", "recall")]:
            ev = MulticlassClassificationEvaluator(metricName=metric, metricLabel=1.0)
            assert got[key] == ev.evaluate(pred), (name, key)
        assert (got["auc"] is None) == (name == "one class"), name
    assert pipeline.evaluate_classifier(frames["no predicted positive"])["precision"] == 0.0
    assert math.isnan(pipeline.evaluate_classifier(scored.limit(0))["accuracy"])
    scored.unpersist()


def test_rf_importances(spark, monkeypatch):
    monkeypatch.setattr(pipeline, "RF_NUM_TREES", 20)
    df = pipeline.assemble(_dataset(spark), ["x1", "x3"])
    model = pipeline.fit_random_forest(df)
    imps = pipeline.rf_importances(model, ["x1", "x3"])
    assert sum(v for _, v in imps) > 0.99


def test_isolation_forest_flags_outliers(spark, monkeypatch):
    monkeypatch.setattr(anomaly, "SEED", 1)
    rng = np.random.default_rng(0)
    X = rng.normal(0, 1, size=(300, 2))
    X[:5] += 12.0  # planted anomalies
    forest = anomaly.IsolationForest(n_trees=50).fit(X)
    scores = forest.score(X)
    # planted outliers should rank in the top 5 scores
    top5 = set(np.argsort(-scores)[:5])
    assert top5 == {0, 1, 2, 3, 4}


def test_isolation_forest_distributed_scoring(spark, monkeypatch):
    monkeypatch.setattr(anomaly, "CONTAMINATION", 0.05)
    rows = [(i, float(i % 10), float((i * 3) % 7)) for i in range(100)]
    rows += [(100, 500.0, 500.0)]  # one wild outlier
    df = spark.createDataFrame(rows, "id long, a double, b double")
    scored = anomaly.flag_anomalies(anomaly.score_isolation_forest(df, ["a", "b"]))
    flagged = {r.id for r in scored.filter(F.col("is_anomaly") == 1).collect()}
    assert 100 in flagged


def test_isolation_forest_scoring_runs_only_the_fit_job(spark):
    """Scoring is lazy: the only job is the fit sample's collect. The
    contamination threshold (an eager quantile job that scores every
    row) belongs to ``flag_anomalies``, which the CLI's top-20 report
    does not need."""
    rows = [(i, float(i % 10), float((i * 3) % 7)) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, a double, b double")
    sc = spark.sparkContext
    sc.setJobGroup("iforest-jobs", "iforest-jobs")
    try:
        scored = anomaly.score_isolation_forest(df, ["a", "b"], n_trees=10)
        jobs = sc.statusTracker().getJobIdsForGroup("iforest-jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 1
    assert "is_anomaly" not in scored.columns


def test_pca_reconstruction_error_anomaly(spark, monkeypatch):
    monkeypatch.setattr(anomaly, "PCA_K", 1)
    rng = np.random.default_rng(7)
    base = rng.normal(0, 1, size=(200, 1))
    rows = [
        (i, float(x), float(2 * x), float(-x)) for i, x in enumerate(base[:, 0])
    ]
    rows += [(200, 5.0, -10.0, 5.0)]  # breaks the linear structure
    df = spark.createDataFrame(rows, "id long, a double, b double, c double")
    scored = anomaly.pca_reconstruction_error(df, ["a", "b", "c"])
    top = scored.orderBy(F.col("anomaly_score").desc()).select("id").first().id
    assert top == 200


def test_pruner_threshold_has_margin_at_checked_scales(spark):
    """Guard for the ml_correlation_pruner DRIVER oracle: the pruning
    DECISION is compared through an abs(corr)>0.9 threshold computed
    independently by Spark and DuckDB. A pair whose true correlation
    sits near 0.9 could flip between engines (different float summation
    order), so assert every feature pair's |corr| keeps a healthy
    margin from the threshold at the scales the driver checks."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.mlops import (
        FEATURES,
        _windowed,
    )

    eps = 0.02
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        df = _windowed(spark, sf_dir)
        corrs = df.agg(
            *[
                F.corr(F.col(a).cast("double"), F.col(b).cast("double")).alias(
                    f"{a}__{b}"
                )
                for i, a in enumerate(FEATURES)
                for b in FEATURES[i + 1 :]
            ]
        ).first()
        for pair, c in corrs.asDict().items():
            if c is None:
                continue
            assert abs(abs(c) - 0.9) > eps, (
                f"{pair} |corr|={abs(c):.4f} within {eps} of the 0.9 "
                f"threshold at {sf_dir} — oracle decision could flip"
            )
