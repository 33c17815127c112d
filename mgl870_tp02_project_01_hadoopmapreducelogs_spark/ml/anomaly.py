"""M7 — anomaly detection.

The reference uses sklearn IsolationForest(contamination=0.1)
(process_logs_v10.py:419-433), which has no spark.ml counterpart (and
sklearn is not a dependency here). Two engine-native implementations:

1. ``IsolationForest`` — a pure-numpy isolation forest: trees are FIT on
   a driver-side sample (the reference's matrix is #windows × #events —
   tiny by construction), then SCORED distributedly via an Arrow-batched
   pandas_udf over a broadcast of the tree arrays. Fit cost is O(sample);
   scoring is embarrassingly parallel — the 100 TB path is unaffected by
   driver fitting because training data for IF is always subsampled
   (the original paper uses ψ=256 samples per tree).

2. ``pca_reconstruction_error`` — fully distributed alternative: project
   onto k principal components, reconstruct, score by squared error.
   No Python in the scoring path at all.

``flag_anomalies`` turns either score into the reference's 0/1 flag.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pipeline import PCA_K, SEED

#: the reference's IsolationForest(contamination=0.1)
#: (process_logs_v10.py:419-433): the flagged fraction of rows
CONTAMINATION = 0.1
#: ψ, the rows each isolation tree is grown on (Liu et al. 2008)
SAMPLE_SIZE = 256
#: the rows the forest is fit on, read to the driver
FIT_SAMPLE = 4096


class _Node:
    __slots__ = ("feature", "threshold", "left", "right", "size")

    def __init__(self, feature=-1, threshold=0.0, left=None, right=None, size=0):
        self.feature = feature
        self.threshold = threshold
        self.left = left
        self.right = right
        self.size = size


def _c(n: int) -> float:
    """Average BST unsuccessful-search path length (Liu et al. 2008)."""
    if n <= 1:
        return 0.0
    h = np.log(n - 1) + 0.5772156649
    return 2.0 * h - 2.0 * (n - 1) / n


def _build_tree(X: np.ndarray, rng: np.random.Generator, depth: int, max_depth: int):
    n = X.shape[0]
    if depth >= max_depth or n <= 1:
        return _Node(size=n)
    f = int(rng.integers(0, X.shape[1]))
    lo, hi = X[:, f].min(), X[:, f].max()
    if lo == hi:
        return _Node(size=n)
    t = float(rng.uniform(lo, hi))
    mask = X[:, f] < t
    return _Node(
        feature=f,
        threshold=t,
        left=_build_tree(X[mask], rng, depth + 1, max_depth),
        right=_build_tree(X[~mask], rng, depth + 1, max_depth),
        size=n,
    )


def _path_length(node: _Node, x: np.ndarray, depth: int = 0) -> float:
    while node.feature >= 0:
        node = node.left if x[node.feature] < node.threshold else node.right
        depth += 1
    return depth + _c(node.size)


class IsolationForest:
    """Driver-fit, executor-scored isolation forest (seeded)."""

    def __init__(self, n_trees: int = 100):
        self.n_trees = n_trees
        self.trees: list[_Node] = []
        self.psi = 0

    def fit(self, X: np.ndarray) -> "IsolationForest":
        rng = np.random.default_rng(SEED)
        psi = min(SAMPLE_SIZE, X.shape[0])
        self.psi = psi
        max_depth = int(np.ceil(np.log2(max(psi, 2))))
        self.trees = []
        for _ in range(self.n_trees):
            idx = rng.choice(X.shape[0], size=psi, replace=False)
            self.trees.append(_build_tree(X[idx], rng, 0, max_depth))
        return self

    def score(self, X: np.ndarray) -> np.ndarray:
        """Anomaly score in (0,1]; higher = more anomalous."""
        cn = _c(self.psi)
        depths = np.array(
            [[_path_length(t, x) for t in self.trees] for x in X], dtype=float
        )
        return np.power(2.0, -depths.mean(axis=1) / cn)


def score_isolation_forest(
    df: DataFrame, feature_cols: list[str], n_trees: int = 100
) -> DataFrame:
    """Fit on a driver sample of ``FIT_SAMPLE`` rows, then add each
    row's ``anomaly_score``, computed distributedly when the frame runs.
    """
    pdf = (
        df.select(feature_cols)
        .limit(FIT_SAMPLE)
        .toPandas()
        .astype(float)
        .to_numpy()
    )
    forest = IsolationForest(n_trees=n_trees).fit(pdf)

    # the forest rides in the UDF's closure, which cloudpickle ships by
    # value (a broadcast would plain-pickle it by import path)
    @F.pandas_udf("double")
    def if_score(*cols: pd.Series) -> pd.Series:
        X = np.column_stack([c.to_numpy(dtype=float) for c in cols])
        return pd.Series(forest.score(X))

    return df.withColumn("anomaly_score", if_score(*[F.col(c) for c in feature_cols]))


def pca_reconstruction_error(df: DataFrame, feature_cols: list[str]) -> DataFrame:
    """Scale-path anomaly scoring: PCA(``PCA_K``) projection error,
    entirely in spark.ml + column expressions (no Python in the scoring
    path)."""
    from pyspark.ml.feature import PCA, StandardScaler, VectorAssembler

    va = VectorAssembler(inputCols=feature_cols, outputCol="__raw", handleInvalid="keep")
    assembled = va.transform(df)
    scaler = StandardScaler(
        inputCol="__raw", outputCol="__scaled", withMean=True, withStd=True
    ).fit(assembled)
    scaled = scaler.transform(assembled)
    pca = PCA(k=PCA_K, inputCol="__scaled", outputCol="__proj").fit(scaled)
    projected = pca.transform(scaled)

    # reconstruction error = ||x||² − ||proj||² (projection is orthogonal)
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array("__scaled")
    proj = vector_to_array("__proj")
    sq = lambda a: F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)  # noqa: E731
    scored = projected.withColumn(
        "anomaly_score", sq(arr) - sq(proj)
    ).drop("__raw", "__scaled", "__proj")
    return flag_anomalies(scored)


def flag_anomalies(scored: DataFrame) -> DataFrame:
    """``is_anomaly`` = 1 for the top ``CONTAMINATION`` fraction of
    ``anomaly_score`` (reference maps sklearn's −1→1,
    process_logs_v10.py:426-433), thresholded at an approximate
    quantile — one eager pass over the scores."""
    thresh = scored.stat.approxQuantile("anomaly_score", [1.0 - CONTAMINATION], 0.001)[0]
    return scored.withColumn(
        "is_anomaly", (F.col("anomaly_score") >= F.lit(thresh)).cast("int")
    )
