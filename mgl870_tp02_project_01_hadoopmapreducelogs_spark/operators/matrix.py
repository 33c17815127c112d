"""D5/D6/A1/A7 — event matrix construction.

The reference builds two matrix forms: a per-template summary table
(``generate_event_matrix``, process_logs_v10.py:126-162; golden CSVs
``Cluster ID,Size,Template``) and a dense line×event one-hot numpy
matrix filled cell-by-cell (``logs_to_event_matrix``,
process_logs.py:68-83; events_matrix.py:5-20). A dense wide matrix is
exactly what does NOT scale — at 100 TB the primary representation here
is the long/sparse ``(file, line_no, cluster_id, cnt)`` table, and the
wide one-hot form is a *derived view* (``pivot``) materialized only at
the ML/export edge where the column count is known to be small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import drain, mining

#: Methods whose event totals are counted off the matched lines. The
#: other methods' catalog ``size`` is each event's line count by
#: construction; ``drain``'s fit and match can diverge
#: (``drain.fit_distributed``), so its lines are read twice.
MATCHED_TOTALS = frozenset({"drain"})

#: Reference CSV header (event_matrix_exec202411230733PM.csv:1).
REFERENCE_COLUMNS = {"cluster_id": "Cluster ID", "size": "Size", "template": "Template"}


def summary_matrix(catalog: DataFrame, reference_names: bool = False) -> DataFrame:
    """D5 — per-template summary (Event_Id/Size/Template), sorted by id
    (process_logs_v10.py:126-162)."""
    df = catalog.select("cluster_id", "size", "template").orderBy("cluster_id")
    if reference_names:
        for old, new in REFERENCE_COLUMNS.items():
            df = df.withColumnRenamed(old, new)
    return df


def occurrences_long(matched: DataFrame) -> DataFrame:
    """D6 long form — one row per (line, event): the scalable one-hot.

    ``matched`` is the output of ``mining.match_lines`` (lines +
    cluster_id). cnt is DoubleType 1.0 to mirror the reference's float64
    cells (np.zeros default, process_logs.py:78).
    """
    return matched.select(
        "file",
        "line_no",
        "cluster_id",
        F.lit(1.0).alias("cnt"),
    )


def occurrences_wide(occ: DataFrame, event_ids: list[int] | None = None) -> DataFrame:
    """A7 — pivot the long form into the reference's wide one-hot matrix
    with ``Event_<id>`` columns (process_logs.py:75-83).

    Passing ``event_ids`` (the catalog's id list — small) lets Spark skip
    the extra distinct-values job and keeps the pivot a single shuffle.
    Only for edge/export use: the wide matrix is O(#events) columns.
    """
    pivoted = (
        occ.groupBy("file", "line_no")
        .pivot("cluster_id", values=event_ids)
        .sum("cnt")
        .na.fill(0.0)
    )
    for c in pivoted.columns:
        if c not in ("file", "line_no"):
            pivoted = pivoted.withColumnRenamed(c, f"Event_{c}")
    return pivoted


def event_counts(occ: DataFrame) -> DataFrame:
    """A1/A2 — total occurrences per event (column sums of the one-hot
    matrix, process_logs_v10.py:168; stat_calculation.py:2). On the long
    form this is a hash aggregate with map-side partials.
    """
    return occ.groupBy("cluster_id").agg(F.sum("cnt").alias("total"))


def failure_events(counts: DataFrame) -> DataFrame:
    """P4 — events with at least one occurrence ("failure events",
    process_logs_v10.py:168-172)."""
    return counts.filter(F.col("total") > 0)


def event_totals(catalog: DataFrame, occ: DataFrame, method: str = "exact") -> DataFrame:
    """A1 for the outputs of ``pipeline``: ``(cluster_id, total)``.

    For ``exact`` and ``drainish`` the catalog ``size`` already is the
    per-event line count, so the totals are catalog-sized and read no
    line; for ``MATCHED_TOTALS`` methods they are ``event_counts(occ)``.
    """
    if method in MATCHED_TOTALS:
        return event_counts(occ)
    return catalog.select("cluster_id", F.col("size").cast("double").alias("total"))


def rekey(df: DataFrame, catalog: DataFrame, ids: DataFrame) -> DataFrame:
    """Renumber ``df``'s ``cluster_id`` from ``catalog``'s ids to the ids
    ``ids`` gives the same templates (joined on ``template``).

    ``--state`` reports an accumulated catalog whose dense ids differ
    from this run's as soon as it holds templates this run did not see;
    this run's totals and occurrences must carry the reported ids. A
    catalog-sized broadcast join; a NULL ``cluster_id`` stays NULL.
    """
    if ids is catalog:
        return df
    id_map = catalog.select("cluster_id", "template").join(
        ids.select(F.col("cluster_id").alias("_to"), "template"), "template"
    )
    return df.join(F.broadcast(id_map.drop("template")), "cluster_id", "left").select(
        *[F.col("_to").alias(c) if c == "cluster_id" else c for c in df.columns]
    )


def pipeline(parsed: DataFrame, method: str = "exact"):
    """End-to-end: parsed lines → (catalog, long occurrences).

    The reference's two-pass fit-then-match lifecycle
    (process_logs.py:27-87) collapsed into one declarative plan for
    ``exact`` and ``drainish``; ``drain`` fits eagerly, then matches.
    Spark caches nothing implicitly, so callers that execute both
    outputs should ``.cache()`` the parsed input.
    """
    if method == "drain":
        catalog = drain.fit_distributed(parsed)
        return catalog, occurrences_long(drain.match_distributed(parsed, catalog))
    if method == "exact":
        catalog = mining.mine_exact(parsed)
    elif method == "drainish":
        catalog = mining.mine_drainish(parsed)
    else:
        raise ValueError(f"unknown mining method: {method!r}")
    mapping = (
        catalog.select(F.col("template").alias("masked"), "cluster_id")
        if method == "exact"
        else mining.drainish_mapping(parsed, catalog)
    )
    matched = mining.match_lines(parsed, mapping)
    return catalog, occurrences_long(matched)
