"""Bucketed tables — shuffle-free co-located joins (SURVEY §4.2).

At 100 TB the event-occurrence ↔ line-metadata join (and any repeated
fact-fact join on the same key) should not shuffle per query: bucket
both tables on the join key at WRITE time and Catalyst plans a
SortMergeJoin with NO Exchange on either side. This module wraps the
saveAsTable/bucketBy path (bucketing metadata lives in the session
catalog; plain parquet files cannot carry it).
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort: bool = True,
) -> None:
    """Persist as a bucketed (and optionally sort-bucketed) managed
    table. Sorting within buckets lets the join skip its sort stage.

    Idempotent across SESSIONS, not just within one: the default
    in-memory catalog forgets tables on restart but their managed
    warehouse directories persist, and saveAsTable then refuses the
    location (LOCATION_ALREADY_EXISTS) — so drop any same-name table
    and clear a leftover local directory before writing."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    if wh.scheme in ("", "file"):
        shutil.rmtree(os.path.join(wh.path, table.lower()), ignore_errors=True)
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, bucket_col)
    )
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)


def cobucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner"
) -> DataFrame:
    """Join two co-bucketed tables on their bucket key — planned
    shuffle-free when bucket counts match (verify with plan_report:
    n_exchanges == 0)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)
