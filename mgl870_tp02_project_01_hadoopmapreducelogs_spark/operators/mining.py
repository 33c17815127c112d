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

One rule numbers every catalog: ``mine_exact``, ``mine_drainish``,
Drain's ``drain.fit_distributed``, the ``--state`` merge
(``sources.sinks.accumulate_catalog``) and the ``--stream`` export all
end in ``rank_catalog``, and every miner and the stream reduce lines to
``(template, size)`` with ``count_templates`` first. Cluster ids are
dense 1-based ints in template order like the reference's
(event_matrix_exec202411230733PM.csv), assigned by ranking the (small,
bounded by max-distinct-templates) template catalog — never by ranking
lines. ``template_hash`` (sha2 of the template) is the scale-path
stable id: identical across runs/clusters without any global ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.preprocess import MASK_TOKEN, MASKED_COL


def rank_catalog(counts: DataFrame) -> DataFrame:
    """The template catalog ``(cluster_id, size, template,
    template_hash)`` of ``(template, size)`` rows, one per template:
    dense 1-based cluster ids in template order and the template's
    sha2. The one place a catalog is numbered.

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
    return counts.withColumn("cluster_id", F.row_number().over(w).cast("long")).select(
        "cluster_id",
        "size",
        "template",
        F.sha2(F.col("template"), 256).alias("template_hash"),
    )


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

    Returns ``rank_catalog`` of ``count_templates``.
    """
    return rank_catalog(count_templates(parsed))


def _drainish_templates(parsed: DataFrame) -> DataFrame:
    """T1(b) — Drain-style generalization of each distinct masked
    message: ``(masked, size, template)``.

    Shape of the computation (all built-ins, no Python per row), one
    chain that reads its input once and caches nothing:

    1. ``count_templates``: distinct masked messages + counts (the only
       line-scale shuffle, with map-side combine);
    2. cluster key = (token_count, first_token) — Drain's fixed prefix;
    3. posexplode tokens; a position generalizes to ``<*>`` iff the
       cluster contains >1 distinct token at that position (min ≠ max
       over a window on (cluster key, position));
    4. reassemble each message's template with an order-preserving
       array aggregation; the template determines its cluster key.
    """
    toks = (
        count_templates(parsed)
        .select(F.col("template").alias("masked"), "size")
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
    return (
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


def mine_drainish(parsed: DataFrame) -> DataFrame:
    """T1(b) catalog: ``rank_catalog`` of the generalized templates'
    summed sizes, so its single-partition sort runs over templates, not
    over the distinct messages."""
    return rank_catalog(
        _drainish_templates(parsed).groupBy("template").agg(F.sum("size").alias("size"))
    )


def drainish_mapping(parsed: DataFrame, catalog: DataFrame) -> DataFrame:
    """T1(b) match-side dictionary ``(masked, cluster_id)``: each
    distinct masked message with the id ``catalog`` (``mine_drainish``
    of the same lines) gives its template, joined on ``template``."""
    return (
        _drainish_templates(parsed)
        .join(catalog.select("template", "cluster_id"), "template")
        .select("masked", "cluster_id")
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
