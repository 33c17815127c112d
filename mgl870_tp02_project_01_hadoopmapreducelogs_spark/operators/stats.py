"""A9-A10 — statistics operators.

Reference: Pearson correlation pruning (process_logs_v10.py:253-257,
325-328). One pass of ``ml.stat.Correlation`` here; the correlation
matrix itself is k×k (k = #events, small) so the threshold scan runs
on the driver. The column sums (A2/A3), the describe/info dump (A11)
and the class histogram (A6) are registry entries in
``queries/relational.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def correlation_matrix(df: DataFrame, cols: list[str]):
    """A9 — Pearson correlation matrix over feature columns in ONE pass
    (``X.corr().abs()``, process_logs_v10.py:254). Returns a numpy array
    (k×k, driver-side — k is the pruned event count, small by design).
    """
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import Correlation

    assembled = VectorAssembler(
        inputCols=cols, outputCol="__corr_features", handleInvalid="keep"
    ).transform(df.select(cols))
    mat = Correlation.corr(assembled, "__corr_features").head()[0]
    return mat.toArray()


def correlated_columns(
    df: DataFrame, cols: list[str], threshold: float = 0.7
) -> list[str]:
    """A10 — upper-triangle scan: columns whose |corr| with an *earlier*
    column exceeds ``threshold`` (np.triu mask + any(), thresholds 0.7
    for the LR pass and 0.9 for the RF pass,
    process_logs_v10.py:253-257,325-328).
    """
    import numpy as np

    corr = np.abs(correlation_matrix(df, cols))
    k = len(cols)
    drop = []
    for j in range(k):
        for i in range(j):
            if not np.isnan(corr[i, j]) and corr[i, j] > threshold:
                drop.append(cols[j])
                break
    return drop
