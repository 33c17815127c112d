import pytest

from mgl870_tp02_project_01_hadoopmapreducelogs_spark import viz
from mgl870_tp02_project_01_hadoopmapreducelogs_spark.operators import matrix
from mgl870_tp02_project_01_hadoopmapreducelogs_spark.sources import logs


def test_failure_distribution_data(spark, log_dir):
    parsed = logs.parse_lines(logs.read_log_dir(spark, log_dir))
    catalog, occ = matrix.pipeline(parsed)
    pdf = viz.failure_distribution_data(matrix.event_counts(occ).join(
        catalog.select("cluster_id"), "cluster_id"
    ))
    assert len(pdf) == catalog.count()
    assert (pdf["total"] > 0).all()


def test_failure_distribution_data_keeps_every_event(spark):
    # more events than the chart data used to keep (500), given in
    # reverse id order, plus an event without occurrences
    rows = [(i, float(i % 7 + 1)) for i in range(600, 0, -1)] + [(601, 0.0)]
    counts = spark.createDataFrame(rows, "cluster_id long, total double")
    pdf = viz.failure_distribution_data(counts)
    assert list(pdf["cluster_id"]) == list(range(1, 601))
    assert list(pdf.index) == list(range(600))


def test_topk_coefficients_data(monkeypatch):
    monkeypatch.setattr(viz, "TOP_K", 2)
    pdf = viz.topk_coefficients_data([("a", 3.0), ("b", -2.0), ("c", 0.1)])
    assert list(pdf["feature"]) == ["a", "b"]


def test_plotting_is_gated_without_matplotlib(spark):
    import pandas as pd

    pdf = pd.DataFrame({"cluster_id": [1], "total": [2.0]})
    try:
        import matplotlib  # noqa: F401

        pytest.skip("matplotlib present; gate not exercised")
    except ImportError:
        with pytest.raises(NotImplementedError):
            viz.plot_failure_distribution(pdf)
