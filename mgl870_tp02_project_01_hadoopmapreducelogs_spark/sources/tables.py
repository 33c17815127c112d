"""SQL surface: register the engine's tables as temp views so every
operator is reachable through ``spark.sql`` as well as the DataFrame
API — Catalyst compiles both to the same plans, so the SQL surface is
free (SURVEY §3.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def register_testdata_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Expose the synthetic star schema as temp views (events with the
    ns→µs timestamp fix applied)."""
    from ..queries import load

    for name in TESTDATA_TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
    return list(TESTDATA_TABLES)


def register_log_views(
    spark: SparkSession, logs_dir: str, prefix: str = ""
) -> dict[str, DataFrame]:
    """Expose the log pipeline as views: raw_logs, parsed_logs,
    templates, event_occurrences — the engine's stable tables
    (FIXTURES.md §1-§4) queryable in SQL.

    The shared parents are CACHED and every view derives from the same
    objects: cross-view joins must see ONE evaluation of the line-id
    assignment and catalog ranking. (Re-deriving per view would make
    each SQL query re-run the pipeline and, worse, join two independent
    evaluations of the window-derived line ids against each other.)
    In production these views are Parquet tables written once per
    ingest; caching is the in-session equivalent."""
    from ..operators import matrix
    from . import logs as logsrc

    raw = logsrc.read_log_dir(spark, logs_dir).cache()
    parsed = logsrc.parse_lines(raw).cache()
    catalog, occurrences = matrix.pipeline(parsed, "exact")
    # cached before anything runs, so the occurrences' plan reads it too
    catalog = catalog.cache()
    out = {
        f"{prefix}raw_logs": raw,
        f"{prefix}parsed_logs": parsed,
        f"{prefix}templates": catalog,
        f"{prefix}event_occurrences": occurrences,
    }
    for name, df in out.items():
        df.createOrReplaceTempView(name)
    return out
