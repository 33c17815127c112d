from pyspark.sql import functions as F

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.operators import matrix, windows
from mgl870_tp02_project_01_hadoopmapreducelogs_spark.sources import logs, sinks


def test_summary_matrix_reference_header(spark, log_dir, tmp_path):
    parsed = logs.parse_lines(logs.read_log_dir(spark, log_dir))
    catalog, _ = matrix.pipeline(parsed)
    summary = matrix.summary_matrix(catalog, reference_names=True)
    assert summary.columns == ["Cluster ID", "Size", "Template"]
    out = str(tmp_path / "event_matrix.csv")
    sinks.write_csv(summary, out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == catalog.count()


def test_wide_pivot_matches_long(spark, log_dir):
    parsed = logs.parse_lines(logs.read_log_dir(spark, log_dir))
    catalog, occ = matrix.pipeline(parsed)
    ids = [r.cluster_id for r in catalog.select("cluster_id").collect()]
    wide = matrix.occurrences_wide(occ, event_ids=ids)
    # one row per line; row sums == 1 (each line hits exactly one event)
    assert wide.count() == parsed.count()
    event_cols = [c for c in wide.columns if c.startswith("Event_")]
    assert len(event_cols) == len(ids)
    rowsum = wide.select(
        sum([F.col(c) for c in event_cols]).alias("s")
    ).distinct().collect()
    assert [r.s for r in rowsum] == [1.0]


def test_failure_event_stats(spark, log_dir):
    parsed = logs.parse_lines(logs.read_log_dir(spark, log_dir))
    _, occ = matrix.pipeline(parsed)
    counts = matrix.event_counts(occ)
    failures = matrix.failure_events(counts)
    assert failures.count() == counts.count()  # all mined events occur ≥1


def test_row_bucket_windows(spark):
    df = spark.range(23).withColumnRenamed("id", "line_id").withColumn(
        "x", F.col("line_id").cast("double")
    ).withColumn("label", (F.col("line_id") % 7 == 0).cast("double"))
    bucketed = windows.add_row_buckets(df, ["line_id"])
    agg = windows.aggregate_windows(bucketed, ["x"], "label")
    rows = {r.window_id: r for r in agg.collect()}
    assert len(rows) == 5  # ceil(23/5)
    assert rows[0].x == 0 + 1 + 2 + 3 + 4
    assert rows[0].label == 1.0  # row 0 hits the %7 target
    assert rows[4].x == 20 + 21 + 22
