"""W1/W2 — windowed feature construction.

Reference: tumbling row-buckets ``Window_ID = arange(len(X)) // 5`` then
``groupby(Window_ID).sum()`` for features and ``.max()`` for the label
(process_logs_v10.py:262-265), with a global row number that needs no
single-partition sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: rows per tumbling window (``arange(len(X)) // 5``,
#: process_logs_v10.py:262); the CLI's ``--window-size`` default
WINDOW_SIZE = 5
#: the column ``global_row_number`` writes
ROW_NUMBER_COL = "_rn"


def cumulative_offset(df: DataFrame, key: str) -> Column:
    """Per row, the number of ``df`` rows whose ``key`` sorts before its
    own: the per-key counts are collected on the driver (one row per
    distinct key, so keep the key's cardinality small), summed in key
    order and shipped back as one flat literal-map lookup — no
    single-partition WindowExec anywhere in the plan.
    """
    pairs, acc = [], 0
    for k, n in sorted(df.groupBy(key).agg(F.count(F.lit(1))).collect()):
        pairs += [F.lit(k), F.lit(acc)]
        acc += n
    # flat map literal, not a chained when().otherwise(): a chain is an
    # O(keys)-deep nested expression that risks codegen limits at
    # cluster-width key counts; create_map is one flat expression and
    # the lookup is a hash probe (pinned at ~2000 buckets in
    # test_windows.py::test_global_row_number_many_buckets).
    # try_element_at, not element_at: under ANSI mode (Spark 4 default)
    # element_at throws on a missing key, which would make the
    # coalesce-to-0 fallback unreachable.
    return F.coalesce(F.try_element_at(F.create_map(*pairs), F.col(key)), F.lit(0))


def global_row_number(
    df: DataFrame, order_cols: list[str], num_buckets: int | None = None
) -> DataFrame:
    """Scale-safe global ``row_number() OVER (ORDER BY key)`` for a
    numeric order key.

    ``Window.orderBy`` with no partitionBy funnels the whole table into
    one partition ("Moving all data to a single partition") — the #1
    scale killer flagged in round 1. This is the zipWithIndex idiom in
    DataFrame form, made deterministic by deriving the bucket from the
    key VALUE rather than from ``repartitionByRange`` placement (whose
    sampled boundaries differ between jobs, so spark_partition_id is
    not stable across the two passes):

    1. one tiny agg for (min, max) of the key → a monotonic bucket
       function ``_b = clamp(floor((key - min) / width))``;
    2. per-bucket counts → ``cumulative_offset`` (≤ num_buckets rows
       on the driver);
    3. local ``row_number`` per bucket (shuffle on ``_b``, parallel
       sort within buckets), plus the bucket's offset.

    Equivalent to the single-partition form when the key is unique
    and non-null (the bucket function is monotonic, so cross-bucket
    order is preserved). Three column-pruned scans of one column
    instead of a full-table single-partition sort.
    """
    if len(order_cols) != 1:
        raise ValueError("global_row_number needs exactly one numeric order column")
    key = order_cols[0]
    n = num_buckets or df.sparkSession.sparkContext.defaultParallelism
    lo, hi = df.agg(F.min(key), F.max(key)).first()
    if lo is None:  # empty input
        return df.withColumn(ROW_NUMBER_COL, F.lit(None).cast("long"))
    width = max(1, (int(hi) - int(lo) + n) // n)
    bucket = F.least(
        F.lit(n - 1), F.floor((F.col(key) - F.lit(int(lo))) / F.lit(width))
    ).cast("int")
    with_b = df.withColumn("_b", bucket)
    w_local = Window.partitionBy("_b").orderBy(key)
    offset = cumulative_offset(with_b, "_b")
    return (
        with_b.withColumn(
            ROW_NUMBER_COL, (F.row_number().over(w_local) + offset).cast("long")
        )
        .drop("_b")
    )


def add_row_buckets(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """W1 — tumbling count windows: ``window_id`` = floor(row_position /
    ``WINDOW_SIZE``) (process_logs_v10.py:262-263).

    Needs a total order (``order_cols``) to be well-defined in a
    distributed setting — the reference's implicit RangeIndex made that
    invisible. Row position comes from ``global_row_number`` (range-
    partitioned, no single-partition sort).
    """
    numbered = global_row_number(df, order_cols)
    return numbered.withColumn(
        "window_id",
        F.floor((F.col(ROW_NUMBER_COL) - F.lit(1)) / F.lit(WINDOW_SIZE)).cast("long"),
    ).drop(ROW_NUMBER_COL)


def aggregate_windows(
    df: DataFrame, feature_cols: list[str], label_col: str
) -> DataFrame:
    """A4+A5 — per-``window_id`` SUM of features and MAX of the label
    ("window is anomalous if any line is", process_logs_v10.py:264-265)."""
    return df.groupBy("window_id").agg(
        *[F.sum(c).alias(c) for c in feature_cols], F.max(label_col).alias(label_col)
    )
