"""T1-T4 — log template mining, the reference's defining operator.

The reference mines templates with Drain3's *online* clustering
(``template_miner.add_log_message``, process_logs_v10.py:59-81; knobs
depth=4, sim=0.4, max_clusters=10000 at process_logs_v10.py:8-17):
one line at a time, mutating a prefix tree whose result depends on input
order. That design cannot be distributed faithfully — Spark partitions
are unordered — so this engine makes the *order-independent* variants
canonical (SURVEY.md §2.4 T1(a)/(b)):

- ``mine_exact``   (T1a): the masked message IS the template. Pure
  ``groupBy(masked).count()`` — deterministic under any partitioning,
  map-side partial aggregation, one shuffle keyed by template.
- ``mine_drainish`` (T1b): Drain-style generalization, re-derived as a
  closed-form aggregation: cluster key = (token_count, first_token) —
  exactly Drain's first two prefix-tree levels — then per token
  position, a position is a parameter iff >1 distinct token appears in
  the cluster (Drain's wildcard rule), giving templates with ``<*>``
  slots. Unlike Drain there is no similarity-threshold split, so it can
  merge clusters Drain would keep apart; it is a deterministic
  *fixed-depth* Drain with threshold 0 — and being pure DataFrame ops
  it scales to any corpus.

Cluster ids are dense 1-based ints like the reference's
(event_matrix_exec202411230733PM.csv), assigned by ranking the (small,
bounded by max-distinct-templates) template catalog — never by ranking
lines. ``template_hash`` (sha2 of the template) is the scale-path
stable id: identical across runs/clusters without any global ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.preprocess import MASK_TOKEN, MASKED_COL


def _rank_templates(templates: DataFrame) -> DataFrame:
    """Assign dense 1-based cluster ids ordered by template text.

    The window is a single-partition sort, but over the *catalog* (≤
    ~10⁶ rows even at 100 TB corpus scale — bounded by template
    cardinality, not line count), never over the lines.

    WindowExec's "no partition defined" WARN fires for this window by
    design; it cannot be silenced by declaring a constant partition key
    (Spark's EliminateWindowPartitions optimizer rule strips foldable
    partition expressions back to an empty spec). Harness sessions
    (check_oracle, bench, dump_plans) scope the logger down instead —
    see ``session.quiet_bounded_window_warns`` — so the warning stays a
    meaningful scale flag for *unbounded* sorts elsewhere.
    """
    w = Window.orderBy("template")
    return templates.withColumn("cluster_id", F.row_number().over(w).cast("long"))


def count_templates(parsed: DataFrame) -> DataFrame:
    """Unranked ``(template, size)``: the masked message IS the
    template. Equivalent oracle SQL: ``SELECT masked AS template,
    count(*) AS size FROM parsed GROUP BY masked``. On a stream it is a
    stateful aggregation whose state store persists sizes across
    triggers, as drain3_state.bin persisted cluster sizes across runs.
    """
    return parsed.groupBy(F.col(MASKED_COL).alias("template")).agg(
        F.count(F.lit(1)).alias("size")
    )


def mine_exact(parsed: DataFrame) -> DataFrame:
    """T1(a) — exact masked-message dedup mining (canonical).

    Returns the template catalog ``(cluster_id, size, template,
    template_hash)``: ``count_templates`` ranked by template.
    """
    return _rank_templates(count_templates(parsed)).select(
        "cluster_id",
        "size",
        "template",
        F.sha2(F.col("template"), 256).alias("template_hash"),
    )


def drainish_mapping(parsed: DataFrame) -> DataFrame:
    """T1(b) — Drain-style generalization; returns the mapping table
    ``(masked, cluster_id, template, size)`` used both as catalog and as
    the match-side dictionary.

    Shape of the computation (all built-ins, no Python per row), one
    chain that reads its input once and caches nothing:

    1. reduce the corpus to distinct masked messages + counts (the only
       line-scale shuffle, with map-side combine);
    2. cluster key = (token_count, first_token) — Drain's fixed prefix;
    3. posexplode tokens; a position generalizes to ``<*>`` iff the
       cluster contains >1 distinct token at that position (min ≠ max
       over a window on (cluster key, position));
    4. reassemble each message's template with an order-preserving
       array aggregation; the template determines its cluster key, so
       dense-ranking templates numbers clusters as ``_rank_templates``
       does — over the distinct-message table, ``mine_exact``'s bound.
    """
    toks = (
        parsed.groupBy(MASKED_COL)
        .agg(F.count(F.lit(1)).alias("size"))
        .withColumn("toks", F.split(F.col("masked"), " "))
        .select(
            "masked",
            "size",
            F.size("toks").alias("n_toks"),
            F.col("toks").getItem(0).alias("head"),
            F.posexplode("toks").alias("pos", "tok"),
        )
    )
    # per (cluster key, position): the consensus token or <*>
    w = Window.partitionBy("n_toks", "head", "pos")
    out_tok = F.when(
        F.min("tok").over(w) == F.max("tok").over(w), F.col("tok")
    ).otherwise(F.lit(MASK_TOKEN))
    templates = (
        toks.withColumn("out_tok", out_tok)
        .groupBy("masked", "size")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "out_tok"))),
                    lambda s: s.getField("out_tok"),
                ),
            ).alias("template")
        )
    )
    # single-partition, as in _rank_templates
    ranked = Window.orderBy("template")
    return templates.select(
        "masked",
        F.dense_rank().over(ranked).cast("long").alias("cluster_id"),
        "template",
        "size",
    )


def mine_drainish(parsed: DataFrame) -> DataFrame:
    """T1(b) catalog: ``(cluster_id, size, template, template_hash)``."""
    mapping = drainish_mapping(parsed)
    return (
        mapping.groupBy("cluster_id", "template")
        .agg(F.sum("size").alias("size"))
        .select(
            "cluster_id",
            "size",
            "template",
            F.sha2(F.col("template"), 256).alias("template_hash"),
        )
    )


def match_lines(parsed: DataFrame, mapping: DataFrame) -> DataFrame:
    """T2 — inference: map already-mined lines to cluster ids with NO
    state update (reference ``template_miner.match``, process_logs.py:71,
    events_matrix.py:8-10).

    ``mapping`` is ``(masked, cluster_id)``: the drainish mapping table,
    or an exact catalog as ``template AS masked``. It is small → Catalyst
    picks a broadcast hash join; unmatched lines get NULL cluster_id
    (the reference returns None, process_logs.py:72).
    """
    cat = F.broadcast(
        mapping.select(F.col(MASKED_COL).alias("__key"), "cluster_id")
        .dropDuplicates(["__key"])
    )
    return (
        parsed.join(cat, parsed[MASKED_COL] == cat["__key"], "left")
        .drop("__key")
    )


def new_templates(old_catalog: DataFrame, new_catalog: DataFrame) -> DataFrame:
    """T3 — change feed: templates present in ``new_catalog`` but not in
    the previous run's catalog (reference prints them as they appear,
    process_logs_v10.py:67-78). Hash anti-join, broadcastable.
    """
    return new_catalog.join(
        old_catalog.select("template"), on="template", how="left_anti"
    )
