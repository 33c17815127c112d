"""V1-V4 — visualization/presentation edge (SURVEY §2.11).

The reference blocks inside matplotlib (`plt.show()`,
process_logs_v10.py:186-217,306-309,443-447). In a distributed engine
plotting is strictly an EDGE concern: each helper below reduces the
distributed result to the small plot-ready pandas frame (bounded rows —
collect is safe by construction), and the actual drawing is gated
behind a matplotlib import so headless/production environments pay
nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ml.pipeline import SEED

#: bars in a ranking chart (the reference's top-10 coefficients,
#: process_logs_v10.py:306-309)
TOP_K = 10
#: points collected for the PCA scatter
SCATTER_SAMPLE = 5000


def failure_distribution_data(event_counts: DataFrame):
    """V1 — bar-chart data: per-event totals for every event with ≥1
    occurrence, id-ordered (plot_failure_distribution,
    process_logs_v10.py:186-217). Catalog-sized, so it is sorted on the
    driver after the collect: a Spark sort would plan a sampling job
    for its range partitioning."""
    pdf = event_counts.filter(F.col("total") > 0).toPandas()
    return pdf.sort_values("cluster_id", na_position="first", ignore_index=True)


def topk_coefficients_data(importances: list[tuple[str, float]]):
    """V2 — top-``TOP_K`` horizontal-bar data from an importance ranking
    (process_logs_v10.py:306-309). Driver-side input: rankings are
    k-sized already."""
    import pandas as pd

    return pd.DataFrame(importances[:TOP_K], columns=["feature", "importance"])


def pca_scatter_data(projected: DataFrame):
    """V3 — PCA scatter data: 2-D projection + label, sampled down to
    about ``SCATTER_SAMPLE`` rows (process_logs_v10.py:443-447), so the
    collect stays bounded at any corpus size."""
    from pyspark.ml.functions import vector_to_array

    arr = vector_to_array("pca_features")
    frac_df = projected.select(
        arr.getItem(0).alias("pc1"), arr.getItem(1).alias("pc2"), "label"
    )
    n = frac_df.count()
    if n > SCATTER_SAMPLE:
        frac_df = frac_df.sample(fraction=SCATTER_SAMPLE / n, seed=SEED)
    return frac_df.toPandas()


def plot_failure_distribution(pdf, ax=None):
    """V1 rendering — requires matplotlib (not present in headless
    environments; the data helper above is the engine surface)."""
    try:
        import matplotlib.pyplot as plt
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "matplotlib is not available in this environment; "
            "use failure_distribution_data() and plot elsewhere"
        ) from e
    ax = ax or plt.gca()
    ax.bar(pdf["cluster_id"].astype(str), pdf["total"])
    # x-tick thinning to multiples of 5, 45° rotation — the reference's
    # presentation quirk (process_logs_v10.py:198-213), indexed correctly
    ticks = [i for i in range(len(pdf)) if i % 5 == 0]
    ax.set_xticks(ticks)
    ax.tick_params(axis="x", rotation=45)
    ax.set_xlabel("Event ID")
    ax.set_ylabel("Occurrences")
    return ax
