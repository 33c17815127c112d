"""S1-S3 — log ingestion sources.

The reference walks a directory tree with ``os.walk``, keeps
``container_*.log`` files and reads each eagerly with ``readlines()``
(``parse_logs``, process_logs_v10.py:86-111) or reads one flat file
(process_logs.py:32-33). Here ingestion is a declarative file scan:
the filename predicate is applied at *listing time* (``pathGlobFilter``,
the Spark analogue of scan pruning), directory recursion is
``recursiveFileLookup``, and per-line identity — which the reference
gets implicitly from the pandas RangeIndex (process_logs.py:80-82) —
is an explicit ``(file, line_no)`` key that survives distribution
across executors (SURVEY.md §2.8 W2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import preprocess as P

CONTAINER_GLOB = "container_*.log"


def read_log_dir(spark: SparkSession, logs_dir: str) -> DataFrame:
    """S1 — recursive scan of ``logs_dir`` for ``container_*.log`` files
    (reference: process_logs_v10.py:86-111, filename filter at :96).

    The glob is evaluated during file listing, so non-matching files are
    never opened — the distributed analogue of the reference's pre-read
    filter, and it composes with partition pruning on object stores.
    """
    df = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", CONTAINER_GLOB)
        .text(logs_dir)
    )
    return _with_line_ids(df)


def read_log_file(spark: SparkSession, path: str) -> DataFrame:
    """S2 — single flat log file (reference: process_logs.py:32-33)."""
    return _with_line_ids(spark.read.text(path))


def _with_line_ids(df: DataFrame) -> DataFrame:
    """W2 — stable per-file line numbers.

    ``monotonically_increasing_id`` is (partition_id << 33) + offset and
    text-file splits are enumerated in file-offset order, so ordering by
    it *within a file* reproduces physical line order without any global
    sort; the window shuffle partitions by file, which scales with the
    number of files. Replaces the reference's single-process RangeIndex.
    """
    w = Window.partitionBy("file").orderBy("_mono")
    return (
        df.withColumn("file", F.input_file_name())
        .withColumn("_mono", F.monotonically_increasing_id())
        .withColumn("line_no", F.row_number().over(w))
        .drop("_mono")
        .select("value", "file", "line_no")
    )


def parse_lines(raw: DataFrame) -> DataFrame:
    """S3 — structure raw lines into PARSED_LOGS (FIXTURES.md §2).

    One projection extracts ts/level/thread/logger/message (fields the
    reference strips and discards, process_logs_v10.py:48-57), then
    ``P.mask``'s chain of guarded projections computes the masked mining
    key from ``message`` (process_logs_v10.py:24-37); all of it runs in
    one codegen stage, and no Python executes per row. ``raw``'s
    columns pass through, so a batch scan keeps its ``line_no`` and a
    stream (``read_log_stream``: no line ids) parses the same way.
    """
    v = F.col("value")
    return P.mask(
        raw.select(
            "*",
            P.extract_timestamp(v).alias("ts"),
            P.extract_level(v).alias("level"),
            P.extract_thread(v).alias("thread"),
            P.extract_logger(v).alias("logger"),
            P.extract_message(v).alias("message"),
        )
    )


def lines_from_df(df: DataFrame, value_col: str, order_col: str) -> DataFrame:
    """S6 — adapt any DataFrame column into the RAW_LOGS shape, giving
    in-memory/table-backed corpora the same downstream pipeline
    (reference's in-memory constructor, process_logs_v10.py:157).
    """
    # in-memory corpora are driver-sized by definition — the empty-spec
    # window (single partition) is the intended bound here, as the
    # catalog's is in mining.rank_catalog
    w = Window.orderBy(order_col)
    return df.select(
        F.col(value_col).cast("string").alias("value"),
        F.lit("<memory>").alias("file"),
        F.row_number().over(w).alias("line_no"),
    )
