"""S4/S5 — sinks and catalog persistence.

Reference: ``event_matrix.to_csv('event_matrix.csv')``
(process_logs_v10.py:160) and the hidden binary Drain3 state blob
``drain3_state.bin`` written by a snapshot timer
(process_logs_v10.py:39-40,120,11-13). Here persistence is explicit and
engine-native: CSV for the human-facing summary (coalesced — it is
catalog-sized, not corpus-sized), Parquet for everything large, and the
miner "state" is simply the versioned templates table — re-mining with
an existing catalog reproduces the reference's accumulate-across-runs
behavior without hidden side effects.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import mining

#: sibling directories of a catalog write: the staged new catalog and
#: the retired old one
_STAGED, _RETIRED = ".staging", ".retired"


def write_csv(df: DataFrame, path: str) -> None:
    """S4 — header CSV sink (process_logs_v10.py:160), one part file as
    in the reference's one-file convention: for catalog-sized frames."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Hive-style partitioned Parquet sink (``path/col=value/...``).

    The 100-TB layout lever: a downstream filter on a partition column
    becomes directory-listing pruning (``PartitionFilters`` in the scan,
    non-matching partitions never opened) — the engine-native
    generalization of the reference's filename predicate P1, which
    pruned at listing time too (process_logs_v10.py:96). Keep partition
    cardinality bounded (lang, date, event class — not doc_id): each
    value is a directory, and tiny partitions defeat the scan."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def _recover_catalog_swap(path: str) -> None:
    """Heal a write interrupted between its two renames: if the live
    catalog is missing, restore the newest complete copy — the staged
    one if its ``_SUCCESS`` marker landed, else the retired previous
    catalog. Idempotent; a no-op in the normal case. Without it a
    mid-swap crash reads as "no catalog yet", and the next write
    would drop every earlier run's templates."""
    if os.path.exists(path):
        return
    if os.path.exists(os.path.join(path + _STAGED, "_SUCCESS")):
        os.rename(path + _STAGED, path)
    elif os.path.exists(path + _RETIRED):
        os.rename(path + _RETIRED, path)


def write_catalog(catalog: DataFrame, path: str) -> None:
    """S5 — persist the template catalog as Parquet (replaces
    drain3_state.bin, process_logs_v10.py:39-40).

    The write goes to a sibling directory (a distributed write, no
    driver round-trip), then two renames swap it in, so ``catalog`` may
    lazily read ``path`` itself (``accumulate_catalog`` over the
    persisted catalog). The rename pair is not atomic as a unit:
    ``read_catalog`` and the next write repair a crash between them.
    One writer per path (a CLI run, or a stream's epochs), on a local
    filesystem; on object stores or with several writers use a
    transactional table format (Delta/Iceberg) instead.
    """
    _recover_catalog_swap(path)
    # debris of an earlier crashed write: os.rename cannot replace a
    # non-empty directory, so a leftover would wedge every later swap
    for stale in (path + _STAGED, path + _RETIRED):
        shutil.rmtree(stale, ignore_errors=True)
    catalog.write.mode("overwrite").parquet(path + _STAGED)
    if os.path.exists(path):
        os.rename(path, path + _RETIRED)
    os.rename(path + _STAGED, path)
    shutil.rmtree(path + _RETIRED, ignore_errors=True)


def has_catalog(path: str) -> bool:
    """Whether a catalog is persisted at ``path``, after repairing an
    interrupted swap."""
    _recover_catalog_swap(path)
    return os.path.isdir(path)


def read_catalog(spark: SparkSession, path: str) -> DataFrame:
    """The persisted catalog, after repairing an interrupted swap."""
    _recover_catalog_swap(path)
    return spark.read.parquet(path)


def accumulate_catalog(old: DataFrame, new: DataFrame) -> DataFrame:
    """Reference semantics: re-running adds the new run's sizes onto the
    persisted state (Σ size grows run over run — BASELINE.md observables
    1,984,400 → 6,716,120). Union on template, sizes summed, then
    ``mining.rank_catalog`` re-numbers the merged catalog."""
    return mining.rank_catalog(
        old.select("template", "size")
        .unionByName(new.select("template", "size"))
        .groupBy("template")
        .agg(F.sum("size").alias("size"))
    )
