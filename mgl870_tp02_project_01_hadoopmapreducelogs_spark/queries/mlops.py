"""M1-M10 ML analytics as driver-checkable queries.

Model outputs are not ANSI-SQL-expressible, so these register with
``oracle=None`` (the driver's rows-only check); numeric determinism
(fixed seeds, coarse rounding) plus the pytest suite carry correctness.
The windowed dataset builder itself IS SQL-expressible and registered
with a full oracle (``ml_windowed_dataset``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml import anomaly, pipeline
from . import load, register

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
FEATURES = [f"n_{t}" for t in EVENT_TYPES] + ["sum_value"]


def _windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+A4+A5+A7 composed: tumbling 5-row windows over events, per-
    window event-type counts + value sum as features, 'any error in
    window' as the label (reference windowing process_logs_v10.py:262-265
    with v9's column-label semantics, process_logs_v9.py:255-256)."""
    from ..operators.windows import add_row_buckets

    ev = load(spark, sf_dir, "events")
    b = add_row_buckets(ev, ["event_id"]).select(
        "window_id",
        "event_type",
        F.floor(F.col("value") * 1000).alias("v"),
    )
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    return b.groupBy("window_id").agg(
        *aggs,
        F.sum("v").alias("sum_value"),
        F.max(F.when(F.col("event_type") == "error", 1.0).otherwise(0.0)).alias(
            "label"
        ),
    )


_WINDOWED_SQL = """
    SELECT CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY event_id) - 1) / 5) AS BIGINT)
             AS window_id,
           event_type, CAST(FLOOR(value*1000) AS BIGINT) AS v
    FROM events
"""


@register(
    "ml_windowed_dataset",
    f"""
    SELECT window_id,
           CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(SUM(v) AS BIGINT) AS sum_value,
           MAX(CASE WHEN event_type = 'error' THEN CAST(1.0 AS DOUBLE)
               ELSE CAST(0.0 AS DOUBLE) END) AS label
    FROM ({_WINDOWED_SQL})
    GROUP BY window_id
    """,
    doc="D7/D8: the windowed feature+label matrix feeding every ML "
    "operator (process_logs_v10.py:262-265) — fully oracle-checked.",
)
def ml_windowed_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _windowed(spark, sf_dir)


@register(
    "ml_stratified_split_counts",
    f"""
    SELECT CAST(label AS INT) AS label,
           CAST(count(*) AS BIGINT) AS n_total,
           TRUE AS split_conserves,
           TRUE AS test_frac_in_band
    FROM (
        SELECT window_id,
               MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS label
        FROM ({_WINDOWED_SQL})
        GROUP BY window_id
    )
    GROUP BY label
    """,
    doc="M1: stratified train/test split (train_test_split(stratify=y), "
    "process_logs_v10.py:272-273). Upgraded from rows-only to the "
    "invariant-oracle style: the split's per-window seeded draw "
    "(xxhash64(window_id, seed) scaled to [0, 1) < 0.8) has no DuckDB "
    "twin, so the oracle "
    "value-checks what IS deterministic — the per-class TOTAL "
    "(train+test must conserve every row of the class, checked "
    "against DuckDB's independent class histogram) — "
    "and pins the sampling contract as booleans (per-class test "
    "fraction within an adaptive +-max(0.1, 4*sqrt(0.16/n)) band of "
    "the requested 0.2 — scale-proof: <1e-4 false-alarm at any class "
    "size). A broken splitter (overlap, loss, grossly skewed "
    "sampling) fails the hash.",
)
def ml_stratified_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _windowed(spark, sf_dir)
    train, test = pipeline.stratified_split(df, test_frac=0.2, seed=42)
    t1 = train.groupBy("label").agg(F.count(F.lit(1)).alias("n_train"))
    t2 = test.groupBy("label").agg(F.count(F.lit(1)).alias("n_test"))
    tot = df.groupBy("label").agg(F.count(F.lit(1)).alias("n_all"))
    j = (
        tot.join(t1, "label", "left")
        .join(t2, "label", "left")
        .na.fill(0, ["n_train", "n_test"])
    )
    frac = F.col("n_test") / (F.col("n_train") + F.col("n_test"))
    # the split is Bernoulli per row: the test fraction of a class of n
    # rows has std sqrt(0.2*0.8/n), so a FIXED band is only meaningful
    # once n is large — a small class at another scale factor could
    # deterministically land outside it even though the splitter is
    # correct (ADVICE r3/r4). Make the band adaptive instead: +-4
    # sigma around the requested 0.2, floored at +-0.1. At n=100
    # that is +-0.16, at n=10k +-0.1 (the floor) — false-alarm
    # probability < 1e-4 per class at ANY class size, while a grossly
    # skewed or broken splitter (frac 0, 0.5+) still fails the hash.
    halfwidth = F.greatest(
        F.lit(0.1), F.lit(4.0) * F.sqrt(F.lit(0.2 * 0.8) / F.col("n_all"))
    )
    return j.select(
        F.col("label").cast("int").alias("label"),
        F.col("n_all").cast("long").alias("n_total"),
        ((F.col("n_train") + F.col("n_test")) == F.col("n_all")).alias(
            "split_conserves"
        ),
        frac.between(F.lit(0.2) - halfwidth, F.lit(0.2) + halfwidth).alias(
            "test_frac_in_band"
        ),
    )


def _fit_metrics(spark: SparkSession, sf_dir: str, fit):
    """Shared classifier recipe (windowed features -> assemble ->
    stratified 80/20 split, seed 42 -> ``fit(train)`` -> held-out
    metrics) — one source of truth so each quality-invariant companion
    vouches for the SAME model its main query reports."""
    df = _windowed(spark, sf_dir)
    assembled = pipeline.assemble(df, FEATURES)
    train, test = pipeline.stratified_split(assembled, test_frac=0.2, seed=42)
    model = fit(train)
    return model, pipeline.evaluate_classifier(model.transform(test))


def _quality_row(spark: SparkSession, metrics: dict, prefix: str) -> DataFrame:
    """The beats-chance booleans of a quality companion: accuracy >= 0.6
    and AUC >= 0.55 (or no AUC, single-class held-out slice)."""
    auc = metrics.get("auc")
    return spark.createDataFrame(
        [(float(metrics["accuracy"]) >= 0.6, auc is None or float(auc) >= 0.55)],
        f"{prefix}_acc_above_chance boolean, {prefix}_auc_above_chance boolean",
    )


@register(
    "ml_model_quality",
    """
    SELECT TRUE AS lr_acc_above_chance, TRUE AS lr_auc_above_chance
    """,
    doc="Classifier-quality contract as a HARD oracle (companion to "
    "ml_logistic_regression, invariant style): the seeded LR fit on "
    "the windowed features must beat chance on the held-out slice — "
    "accuracy >= 0.6 and AUC >= 0.55 — pinned as constants the oracle "
    "hash-checks. Model coefficients stay engine-specific (rows-only "
    "on the main query); a broken assembler, a label/feature "
    "misalignment, or a degenerate fit breaks this hash.",
)
def ml_model_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    _model, metrics = _fit_metrics(spark, sf_dir, pipeline.fit_logistic_regression)
    return _quality_row(spark, metrics, "lr")


@register(
    "ml_logistic_regression",
    None,
    doc="M2+M4+M5: LogisticRegression(maxIter=1000) on the windowed "
    "matrix; returns evaluation metrics + |coef|-ranked features "
    "(process_logs_v10.py:279-309).",
)
def ml_logistic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    model, metrics = _fit_metrics(spark, sf_dir, pipeline.fit_logistic_regression)
    imps = pipeline.lr_importances(model, FEATURES)
    rows = [("metric:" + k, float(round(v, 3)) if v is not None else None)
            for k, v in sorted(metrics.items())]
    rows += [("coef:" + name, float(round(c, 2))) for name, c in imps]
    return spark.createDataFrame(rows, "item string, value double")


@register(
    "ml_rf_quality",
    """
    SELECT TRUE AS rf_acc_above_chance, TRUE AS rf_auc_above_chance
    """,
    doc="Classifier-quality contract for the random forest as a HARD "
    "oracle (companion to ml_random_forest, same invariant style as "
    "ml_model_quality): the seeded RF fit on the windowed features "
    "must beat chance on the held-out slice — accuracy >= 0.6 and "
    "AUC >= 0.55 — pinned as constants the oracle hash-checks. Tree "
    "split points stay engine-specific (rows-only on the main query); "
    "a broken assembler, label/feature misalignment, or a degenerate "
    "fit breaks this hash (reference RF: process_logs_v10.py:338-416).",
)
def ml_rf_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    _model, metrics = _fit_metrics(spark, sf_dir, pipeline.fit_random_forest)
    return _quality_row(spark, metrics, "rf")


@register(
    "ml_random_forest",
    None,
    doc="M3+M4+M6: RandomForestClassifier(numTrees=100, seed=42) + "
    "impurity importances (process_logs_v10.py:338-416).",
)
def ml_random_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    model, metrics = _fit_metrics(spark, sf_dir, pipeline.fit_random_forest)
    imps = pipeline.rf_importances(model, FEATURES)
    rows = [("metric:" + k, float(round(v, 3)) if v is not None else None)
            for k, v in sorted(metrics.items())]
    rows += [("importance:" + name, float(round(v, 2))) for name, v in imps[:5]]
    return spark.createDataFrame(rows, "item string, value double")


@register(
    "ml_correlation_pruner",
    rf"""
    WITH w AS (
        SELECT window_id,
               SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS n_click,
               SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS n_error,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchase,
               SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS n_signup,
               SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS n_view,
               SUM(v) AS sum_value
        FROM ({_WINDOWED_SQL})
        GROUP BY window_id
    ),
    c AS (
        SELECT corr(CAST(n_click AS DOUBLE), CAST(n_error AS DOUBLE)) AS c_0_1,
           corr(CAST(n_click AS DOUBLE), CAST(n_purchase AS DOUBLE)) AS c_0_2,
           corr(CAST(n_error AS DOUBLE), CAST(n_purchase AS DOUBLE)) AS c_1_2,
           corr(CAST(n_click AS DOUBLE), CAST(n_signup AS DOUBLE)) AS c_0_3,
           corr(CAST(n_error AS DOUBLE), CAST(n_signup AS DOUBLE)) AS c_1_3,
           corr(CAST(n_purchase AS DOUBLE), CAST(n_signup AS DOUBLE)) AS c_2_3,
           corr(CAST(n_click AS DOUBLE), CAST(n_view AS DOUBLE)) AS c_0_4,
           corr(CAST(n_error AS DOUBLE), CAST(n_view AS DOUBLE)) AS c_1_4,
           corr(CAST(n_purchase AS DOUBLE), CAST(n_view AS DOUBLE)) AS c_2_4,
           corr(CAST(n_signup AS DOUBLE), CAST(n_view AS DOUBLE)) AS c_3_4,
           corr(CAST(n_click AS DOUBLE), CAST(sum_value AS DOUBLE)) AS c_0_5,
           corr(CAST(n_error AS DOUBLE), CAST(sum_value AS DOUBLE)) AS c_1_5,
           corr(CAST(n_purchase AS DOUBLE), CAST(sum_value AS DOUBLE)) AS c_2_5,
           corr(CAST(n_signup AS DOUBLE), CAST(sum_value AS DOUBLE)) AS c_3_5,
           corr(CAST(n_view AS DOUBLE), CAST(sum_value AS DOUBLE)) AS c_4_5
        FROM w
    )
    SELECT 'n_click' AS kept FROM c
        UNION ALL SELECT 'n_error' AS kept FROM c WHERE NOT (COALESCE(abs(c_0_1) > 0.9, FALSE))
        UNION ALL SELECT 'n_purchase' AS kept FROM c WHERE NOT (COALESCE(abs(c_0_2) > 0.9, FALSE) OR COALESCE(abs(c_1_2) > 0.9, FALSE))
        UNION ALL SELECT 'n_signup' AS kept FROM c WHERE NOT (COALESCE(abs(c_0_3) > 0.9, FALSE) OR COALESCE(abs(c_1_3) > 0.9, FALSE) OR COALESCE(abs(c_2_3) > 0.9, FALSE))
        UNION ALL SELECT 'n_view' AS kept FROM c WHERE NOT (COALESCE(abs(c_0_4) > 0.9, FALSE) OR COALESCE(abs(c_1_4) > 0.9, FALSE) OR COALESCE(abs(c_2_4) > 0.9, FALSE) OR COALESCE(abs(c_3_4) > 0.9, FALSE))
        UNION ALL SELECT 'sum_value' AS kept FROM c WHERE NOT (COALESCE(abs(c_0_5) > 0.9, FALSE) OR COALESCE(abs(c_1_5) > 0.9, FALSE) OR COALESCE(abs(c_2_5) > 0.9, FALSE) OR COALESCE(abs(c_3_5) > 0.9, FALSE) OR COALESCE(abs(c_4_5) > 0.9, FALSE))
    """,
    doc="M9: correlation-pruning selector at threshold 0.9 on the "
    "windowed features (process_logs_v10.py:325-328) — emits kept "
    "columns. Oracle: the same upper-triangle any-earlier-column rule "
    "written out over DuckDB corr() pairs (NULL-safe like the numpy "
    "NaN skip), so the pruning DECISION — not just the correlation "
    "values (a10) — is driver-checked.",
)
def ml_correlation_pruner(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _windowed(spark, sf_dir)
    _, kept = pipeline.prune_correlated(df, FEATURES, threshold=0.9)
    return spark.createDataFrame([(c,) for c in sorted(kept)], "kept string")


@register(
    "ml_pca_projection",
    None,
    doc="M8: PCA(k=2) over the windowed matrix; explained variance per "
    "component (process_logs_v10.py:436-447). Rows-only: eigenvector "
    "sign/ordering is implementation-specific.",
)
def ml_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _windowed(spark, sf_dir)
    assembled = pipeline.assemble(df, FEATURES)
    model = pipeline.fit_pca(assembled, k=2)
    ev = [round(float(v), 3) for v in model.explainedVariance]
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(ev)], "component int, explained_variance double"
    )


@register(
    "ml_pca_variance",
    """
    SELECT CAST(2 AS INT) AS n_components,
           TRUE AS ev_sum_le_one,
           TRUE AS ev_sorted_desc,
           TRUE AS ev_nonneg
    """,
    doc="Explained-variance conservation laws for PCA(k=2) as a HARD "
    "oracle (companion to ml_pca_projection): the explained-variance "
    "ratios of the fitted model must (a) sum to <= 1 (they are "
    "fractions of total variance), (b) be ordered descending (PCA "
    "components are ranked by eigenvalue), (c) be non-negative — "
    "pinned as constants the oracle hash-checks, plus the component "
    "count. Eigenvector sign/basis stays engine-specific (rows-only "
    "on the main query); a mis-scaled covariance or a broken "
    "assembler breaks this hash (reference process_logs_v10.py:436-447).",
)
def ml_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _windowed(spark, sf_dir)
    assembled = pipeline.assemble(df, FEATURES)
    model = pipeline.fit_pca(assembled, k=2)
    ev = [float(v) for v in model.explainedVariance]
    return spark.createDataFrame(
        [
            (
                len(ev),
                sum(ev) <= 1.0 + 1e-9,
                all(ev[i] >= ev[i + 1] - 1e-12 for i in range(len(ev) - 1)),
                all(v >= -1e-12 for v in ev),
            )
        ],
        "n_components int, ev_sum_le_one boolean, ev_sorted_desc boolean,"
        " ev_nonneg boolean",
    )


@register(
    "ml_anomaly_rate",
    """
    SELECT TRUE AS if_rate_in_band, TRUE AS pca_rate_in_band
    """,
    doc="Anomaly-rate contract as a HARD oracle (companion to "
    "ml_isolation_forest and ml_pca_anomaly_scores): both detectors "
    "threshold the score at the 1-contamination approxQuantile "
    "(contamination=0.1, relErr 0.001), so the flagged fraction must "
    "land in [0.05, 0.18] — loose enough for quantile approximation "
    "and score ties, tight enough that an inverted threshold, a "
    "broken scorer, or a degenerate score column (all-equal) breaks "
    "the hash. Scores themselves stay engine-specific (rows-only on "
    "the main queries); reference contamination contract: "
    "IsolationForest(contamination=0.1), process_logs_v10.py:419-433.",
)
def ml_anomaly_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _windowed(spark, sf_dir)
    if_scored = anomaly.flag_anomalies(
        anomaly.score_isolation_forest(df, FEATURES, n_trees=50)
    )
    pca_scored = anomaly.pca_reconstruction_error(df, FEATURES)

    def rate(scored: DataFrame) -> float:
        row = scored.agg(
            F.avg(F.col("is_anomaly").cast("double")).alias("r")
        ).first()
        return float(row["r"])

    return spark.createDataFrame(
        [(0.05 <= rate(if_scored) <= 0.18, 0.05 <= rate(pca_scored) <= 0.18)],
        "if_rate_in_band boolean, pca_rate_in_band boolean",
    )


@register(
    "ml_isolation_forest",
    None,
    doc="M7: isolation-forest anomaly detection (IsolationForest("
    "contamination=0.1), process_logs_v10.py:419-433) — pure-numpy "
    "trees fit on a driver sample, scored via Arrow-batched pandas_udf; "
    "returns anomaly count and score stats (seeded, deterministic).",
)
def ml_isolation_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _windowed(spark, sf_dir)
    scored = anomaly.flag_anomalies(
        anomaly.score_isolation_forest(df, FEATURES, n_trees=50)
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("is_anomaly").alias("n_anomalies"),
        F.round(F.avg("anomaly_score"), 2).alias("mean_score"),
    )


@register(
    "ml_pca_anomaly_scores",
    None,
    doc="M7 scale path: PCA-reconstruction-error anomaly scoring — no "
    "Python in the scoring path (SURVEY §4.2).",
)
def ml_pca_anomaly_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _windowed(spark, sf_dir)
    scored = anomaly.pca_reconstruction_error(df, FEATURES)
    return scored.groupBy("is_anomaly").agg(F.count(F.lit(1)).alias("n"))


@register(
    "ml_split_deterministic",
    f"""
    WITH w AS (
        SELECT window_id,
               MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS label
        FROM ({_WINDOWED_SQL})
        GROUP BY window_id
    )
    SELECT CASE WHEN substr(md5(CAST(window_id AS VARCHAR)), 1, 2) < '33'
                THEN 'test' ELSE 'train' END AS split,
           label,
           CAST(count(*) AS BIGINT) AS n
    FROM w GROUP BY 1, 2
    """,
    doc="M1 scale-path variant: DETERMINISTIC hash split — a row is "
    "'test' iff the first md5 byte of its window_id is < 0x33 "
    "(~19.9%). Unlike the seeded xxhash64 draw of "
    "ml_stratified_split_counts (Spark's hash, no DuckDB twin), the "
    "assignment is a pure md5 function of the key: reproducible across "
    "engines, runs, cluster sizes, and data relayouts — which is why "
    "production pipelines hash-split. Fully oracle-checked, including "
    "per-class counts.",
)
def ml_split_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _windowed(spark, sf_dir)
    split = F.when(
        F.substring(F.md5(F.col("window_id").cast("string")), 1, 2) < "33",
        "test",
    ).otherwise("train")
    return (
        df.select(split.alias("split"), F.col("label").cast("int").alias("label"))
        .groupBy("split", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "ml_kfold_assignment",
    f"""
    WITH w AS (
        SELECT window_id,
               MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS label
        FROM ({_WINDOWED_SQL})
        GROUP BY window_id
    )
    SELECT CASE WHEN substr(md5(CAST(window_id AS VARCHAR)), 1, 1) < '4' THEN 0
                WHEN substr(md5(CAST(window_id AS VARCHAR)), 1, 1) < '8' THEN 1
                WHEN substr(md5(CAST(window_id AS VARCHAR)), 1, 1) < 'c' THEN 2
                ELSE 3 END AS fold,
           CAST(label AS INT) AS label,
           CAST(count(*) AS BIGINT) AS n
    FROM w GROUP BY 1, 2
    """,
    doc="M1 cross-validation companion: deterministic k-fold assignment "
    "(k=4) as a pure function of the key — fold = range of the first "
    "md5 hex char ('0'-'3'→0, '4'-'7'→1, '8'-'b'→2, 'c'-'f'→3), which "
    "is EXACTLY uniform over the 16 hex values and engine-independent "
    "(string comparison only, no hex parsing). Every row lands in "
    "exactly one fold (partition by construction: disjoint + "
    "conserving), so CV train/val sets need no shuffle or state: "
    "train_i = corpus WHERE fold <> i is a pushed-down scan filter at "
    "any scale. Per-(fold,label) counts are fully hash-checked, so a "
    "skewed hash, a dropped row, or a fold leak all break the oracle.",
)
def ml_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _windowed(spark, sf_dir)
    c = F.substring(F.md5(F.col("window_id").cast("string")), 1, 1)
    fold = (
        F.when(c < "4", 0).when(c < "8", 1).when(c < "c", 2).otherwise(3)
    )
    return (
        df.select(fold.alias("fold"), F.col("label").cast("int").alias("label"))
        .groupBy("fold", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
