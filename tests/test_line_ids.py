"""Pin the engine's riskiest physical assumption: per-file line ids
derived from row_number over monotonically_increasing_id must follow
physical line order EVEN WHEN one file is split across many scan
partitions (Spark packs splits after sorting by size, so this is worth
a regression gate, not faith)."""

from pyspark.sql import functions as F

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.session import get_spark
from mgl870_tp02_project_01_hadoopmapreducelogs_spark.sources import logs


def test_line_ids_survive_multi_split_files(tmp_path):
    # a file big enough to split at 16 KiB, with self-describing lines
    n = 2000
    path = tmp_path / "container_split_test.log"
    with open(path, "w") as f:
        for i in range(1, n + 1):
            f.write(f"2024-01-01 00:00:00,000 INFO [main] a.b.C: line number {i} padpadpadpadpadpad\n")

    spark = get_spark(app_name="split-test", master="local[4]", shuffle_partitions=4)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024))
        # the SCAN must split the file; the window then shuffles by file
        scan = spark.read.text(str(path))
        assert scan.rdd.getNumPartitions() > 1, "file must actually split"
        raw = logs.read_log_dir(spark, str(tmp_path))
        got = raw.select(
            "line_no",
            F.regexp_extract("value", r"line number (\d+)", 1).cast("long").alias(
                "content_no"
            ),
        )
        mismatches = got.filter(F.col("line_no") != F.col("content_no")).count()
        assert mismatches == 0
        assert got.count() == n
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
