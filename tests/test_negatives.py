"""Error-journal negatives (SURVEY §5.2 item 5): the failure modes the
reference hit (Annexe - Difficultés techniques.docx, 13 numbered
errors) and the malformed inputs its pipeline never guarded against."""

import pytest
from pyspark.sql import functions as F

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.operators import matrix, mining
from mgl870_tp02_project_01_hadoopmapreducelogs_spark.sources import logs


def _parse_values(spark, values):
    df = spark.createDataFrame(
        [(v, "<test>", i + 1) for i, v in enumerate(values)],
        "value string, file string, line_no long",
    )
    return logs.parse_lines(df)


def test_malformed_lines_parse_to_nulls_not_errors(spark):
    parsed = _parse_values(
        spark,
        [
            "",                     # empty
            "   \t  ",              # whitespace only
            "no timestamp at all",  # continuation-style
            "2024-13-45 99:99:99,999 INFO [x] broken.Date: impossible date",
            "x" * 1_000_000,        # pathological long line
            "línea con acentos y 中文 tokens 42",
        ],
    )
    rows = parsed.collect()
    assert len(rows) == 6  # nothing dropped, nothing raised
    assert rows[0].ts is None and rows[0].masked == ""
    assert rows[2].ts is None and rows[2].level is None
    # impossible date → to_timestamp yields NULL, not an exception
    assert rows[3].ts is None and rows[3].level == "INFO"
    assert len(rows[4].masked) >= 1_000_000 - 10
    assert "<*>" in rows[5].masked  # the 42 masks


def test_mining_empty_corpus(spark):
    parsed = _parse_values(spark, [])
    catalog = mining.mine_exact(parsed)
    assert catalog.count() == 0
    _, occ = matrix.pipeline(parsed)
    assert occ.count() == 0


def test_missing_target_event_guard(spark):
    """Reference guard: target column must exist before the ML split
    (process_logs_v9.py:251-252) — P7 as an explicit driver-side check."""
    df = spark.createDataFrame([(1, 2.0)], "window_id long, n_click double")
    target = "n_error"
    with pytest.raises(ValueError, match="n_error"):
        if target not in df.columns:
            raise ValueError(f"target event column {target} not in matrix")


def test_s6_in_memory_lines_adapter(spark):
    src = spark.createDataFrame(
        [(10, "alpha message 1"), (20, "beta message 2")], "k long, msg string"
    )
    raw = logs.lines_from_df(src, "msg", "k")
    rows = {r.line_no: r.value for r in raw.collect()}
    assert rows == {1: "alpha message 1", 2: "beta message 2"}
    parsed = logs.parse_lines(raw)
    assert parsed.filter(F.col("masked").isNull()).count() == 0


def test_match_against_empty_catalog(spark):
    parsed = _parse_values(spark, ["some line 1"])
    empty_catalog = mining.mine_exact(_parse_values(spark, []))
    mapping = empty_catalog.select(F.col("template").alias("masked"), "cluster_id")
    out = mining.match_lines(parsed, mapping)
    assert out.collect()[0].cluster_id is None
