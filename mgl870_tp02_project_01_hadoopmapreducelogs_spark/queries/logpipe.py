"""Log-pipeline operators (SURVEY §2.1-§2.4) exercised against the
driver's synthetic tables.

The reference's surface is log-shaped; the correctness oracle runs on
parquet tables. Bridge: deterministically *synthesize* a log line per
``events`` row (constant timestamp prefix + level from event_type +
thread + message whose dynamic tokens come from user_id/value), then
run the real preprocessing/masking/mining operators on it. The oracle
SQL reconstructs the identical strings, so every regex/grouping
semantic is checked value-for-value.

Numeric tokens are integer-ized (``floor(value*1000)``) so string
renderings agree across engines; double aggregates elsewhere are
rounded explicitly in BOTH engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import preprocess as P
from ..operators import mining
from . import load, register, scan_partitions, spread


def _tmp_corpus_dir(prefix: str) -> str:
    """Exclusive temp dir for a self-constructed oracle corpus.

    Fresh per invocation (ADVICE r3): a fixed shared path could accumulate
    stale files and silently change a pinned row count. Spark reads the
    files lazily at collect time, so the dir must outlive this call —
    cleanup is deferred to interpreter exit via atexit (bench/check/driver
    all run queries in bounded child processes, so nothing leaks across
    rounds).
    """
    import atexit
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root

# --- shared line synthesis (Spark + SQL kept textually adjacent) -----------


def _message(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "message",
        F.concat(
            F.col("event_type"),
            F.lit(" user="),
            F.col("user_id").cast("string"),
            F.lit(" v="),
            F.floor(F.col("value") * 1000).cast("string"),
        ),
    )


MESSAGE_SQL = (
    "event_type || ' user=' || CAST(user_id AS VARCHAR)"
    " || ' v=' || CAST(CAST(FLOOR(value*1000) AS BIGINT) AS VARCHAR)"
)


def _line(df: DataFrame) -> DataFrame:
    level = F.when(F.col("event_type") == "error", "ERROR").otherwise("INFO")
    return _message(df).withColumn(
        "line",
        F.concat(
            F.lit("2024-01-01 00:00:00,000 "),
            level,
            F.lit(" [w"),
            (F.col("user_id") % 8).cast("string"),
            F.lit("] com.example.app.Handler: "),
            F.col("message"),
        ),
    )


LINE_SQL = (
    "'2024-01-01 00:00:00,000 ' || "
    "(CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'INFO' END) || "
    "' [w' || CAST(user_id % 8 AS VARCHAR) || '] com.example.app.Handler: ' || "
    + MESSAGE_SQL
)


def _mask_sql(expr: str) -> str:
    """The F5 masking chain as DuckDB SQL, generated from the SAME rule
    list the Spark expression uses — one source of truth."""
    out = expr
    for _name, pat in P.MASK_RULES:
        out = f"regexp_replace({out}, '{pat}', '<*>', 'g')"
    return out


MASKED_LINES_SQL = f"""
    SELECT event_id, {_mask_sql(MESSAGE_SQL)} AS masked
    FROM events
"""

TEMPLATES_SQL = f"""
    SELECT ROW_NUMBER() OVER (ORDER BY template) AS cluster_id,
           size, template
    FROM (
        SELECT masked AS template, count(*) AS size
        FROM ({MASKED_LINES_SQL})
        GROUP BY masked
    )
"""


def _masked(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread() before the 14-rule mask chain: the single-row-group
    # testdata scan cannot split, and the chain is the CPU hog
    ev = spread(
        load(spark, sf_dir, "events"), scan_partitions(spark, sf_dir, "events")
    )
    return P.mask(_message(ev)).select("event_id", P.MASKED_COL)


# --- F1-F4 ------------------------------------------------------------------


@register(
    "f1_f4_preprocess_strip",
    f"""
    SELECT event_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace({LINE_SQL},
                   '^\\d{{4}}-\\d{{2}}-\\d{{2}} \\d{{2}}:\\d{{2}}:\\d{{2}},\\d{{3}}', ''),
                 '\\b(INFO|ERROR|WARN|DEBUG|TRACE|FATAL)\\b', '', 'g'),
               '\\[\\w+\\]', '', 'g'),
             '\\s+', ' ', 'g')) AS clean
    FROM events
    """,
    doc="F1-F4: timestamp/level/thread strip + whitespace normalize "
    "(process_logs_v10.py:48-57) on synthesized log lines.",
)
def f1_f4_preprocess_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _line(load(spark, sf_dir, "events"))
    return df.select("event_id", P.preprocess(F.col("line")).alias("clean"))


# --- F5 ---------------------------------------------------------------------


@register(
    "f5_mask_dynamic_tokens",
    MASKED_LINES_SQL,
    doc="F5: config-driven <*> masking chain (process_logs_v10.py:24-37).",
)
def f5_mask_dynamic_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _masked(spark, sf_dir)


# --- F6 ---------------------------------------------------------------------


@register(
    "f6_event_labels",
    """
    SELECT DISTINCT 'Event_' || CAST(user_id % 100 AS VARCHAR) AS label,
           user_id % 100 AS event_id_back
    FROM events
    """,
    doc="F6: Event_<id> label formatting + parse-back (process_logs.py:83).",
)
def f6_event_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    lab = P.event_label(F.col("user_id") % 100)
    return ev.select(
        lab.alias("label"),
        P.event_id_from_label(lab).alias("event_id_back"),
    ).distinct()


# --- T1(a) ------------------------------------------------------------------


@register(
    "t1a_mine_templates",
    TEMPLATES_SQL,
    doc="T1(a): order-independent template mining — masked dedup + dense "
    "catalog ranking (replaces Drain3 add_log_message, "
    "process_logs_v10.py:59-81).",
)
def t1a_mine_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = _masked(spark, sf_dir)
    return mining.mine_exact(parsed).select("cluster_id", "size", "template")


# --- T1(b) ------------------------------------------------------------------


@register(
    "t1b_drainish_mining",
    f"""
    WITH msk AS (
        SELECT masked, count(*) AS size
        FROM ({MASKED_LINES_SQL}) GROUP BY masked
    ),
    keyed AS (
        SELECT masked, size, string_split(masked, ' ') AS toks,
               len(string_split(masked, ' ')) AS n_toks,
               string_split(masked, ' ')[1] AS head
        FROM msk
    ),
    pos_rows AS (
        SELECT toks, n_toks, head,
               unnest(generate_series(1, n_toks)) AS pos
        FROM keyed
    ),
    consensus AS (
        SELECT n_toks, head, pos,
               CASE WHEN count(DISTINCT toks[pos]) = 1
                    THEN min(toks[pos]) ELSE '<*>' END AS out_tok
        FROM pos_rows GROUP BY n_toks, head, pos
    ),
    templates AS (
        SELECT n_toks, head,
               string_agg(out_tok, ' ' ORDER BY pos) AS template
        FROM consensus GROUP BY n_toks, head
    ),
    sizes AS (
        SELECT n_toks, head, CAST(SUM(size) AS BIGINT) AS size
        FROM keyed GROUP BY n_toks, head
    )
    SELECT ROW_NUMBER() OVER (ORDER BY template) AS cluster_id,
           s.size, t.template
    FROM templates t JOIN sizes s USING (n_toks, head)
    """,
    doc="T1(b): Drain-style generalization as a closed-form aggregation "
    "— cluster key (token_count, first_token) = Drain's first two "
    "prefix-tree levels, position-wise consensus-or-<*> (Drain's "
    "wildcard rule, process_logs_v10.py:59-81); fully SQL-expressible "
    "so the middle mining variant gets a hard oracle verdict.",
)
def t1b_drainish_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = _masked(spark, sf_dir)
    return mining.mine_drainish(parsed).select("cluster_id", "size", "template")


# --- T2 ---------------------------------------------------------------------


@register(
    "t2_match_lines",
    f"""
    SELECT l.event_id, t.cluster_id
    FROM ({MASKED_LINES_SQL}) l
    JOIN ({TEMPLATES_SQL}) t ON l.masked = t.template
    """,
    doc="T2: inference — map lines to an existing catalog via broadcast "
    "hash join (template_miner.match, process_logs.py:71).",
)
def t2_match_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = _masked(spark, sf_dir)
    catalog = mining.mine_exact(parsed)
    mapping = catalog.select(F.col("template").alias("masked"), "cluster_id")
    return mining.match_lines(parsed, mapping).select("event_id", "cluster_id")


# --- T3 ---------------------------------------------------------------------


@register(
    "t3_new_template_feed",
    f"""
    WITH old_cat AS (
        SELECT DISTINCT {_mask_sql(MESSAGE_SQL)} AS template
        FROM events WHERE event_type IN ('click', 'view')
    ),
    new_cat AS (
        SELECT masked AS template, count(*) AS size
        FROM ({MASKED_LINES_SQL}) GROUP BY masked
    )
    SELECT n.template, n.size
    FROM new_cat n LEFT JOIN old_cat o ON n.template = o.template
    WHERE o.template IS NULL
    """,
    doc="T3: new-template change feed — anti-join of the current catalog "
    "against the previous run's (process_logs_v10.py:67-78).",
)
def t3_new_template_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    old_lines = P.mask(
        _message(ev.filter(F.col("event_type").isin("click", "view")))
    ).select("event_id", P.MASKED_COL)
    old = mining.mine_exact(old_lines)
    new = mining.mine_exact(_masked(spark, sf_dir))
    return mining.new_templates(old, new).select("template", "size")


# --- T4 ---------------------------------------------------------------------


@register(
    "t4_cluster_census",
    f"SELECT count(*) AS n_clusters FROM ({TEMPLATES_SQL})",
    doc="T4: cluster census (process_logs_v10.py:81).",
)
def t4_cluster_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    parsed = _masked(spark, sf_dir)
    return mining.mine_exact(parsed).agg(F.count(F.lit(1)).alias("n_clusters"))


# --- S5: cross-run catalog accumulation ----------------------------------------


@register(
    "s5_catalog_accumulation",
    TEMPLATES_SQL,
    doc="S5 invariant, oracle-checked: mining two disjoint half-corpora "
    "as separate 'runs' and accumulating the persisted catalogs "
    "(sources/sinks.accumulate_catalog — the drain3_state.bin "
    "accumulate-across-runs semantics, sizes 1,984,400 → 6,716,120 in "
    "BASELINE.md) must equal one full rebuild. Oracle = the full-"
    "corpus catalog SQL.",
)
def s5_catalog_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import sinks

    ev = load(spark, sf_dir, "events")
    half = F.col("event_id") % 2
    run1 = mining.mine_exact(
        P.mask(_message(ev.filter(half == 0))).select("event_id", P.MASKED_COL)
    )
    run2 = mining.mine_exact(
        P.mask(_message(ev.filter(half == 1))).select("event_id", P.MASKED_COL)
    )
    return sinks.accumulate_catalog(run1, run2).select(
        "cluster_id", "size", "template"
    )


# --- T1(c): faithful Drain mining ---------------------------------------------


@register(
    "t1c_drain_mining",
    None,
    doc="T1(c): faithful Drain-family mining (He et al. 2017; the "
    "reference's Drain3 path, process_logs_v10.py:59-81) — JVM "
    "reduction to distinct masked messages, one sorted driver fit, "
    "broadcast rematch; the catalog is independent of partitioning. "
    "Rows-only: similarity-threshold clustering is not SQL-"
    "expressible; invariants are pytest-covered (tests/test_drain.py).",
)
def t1c_drain_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import drain

    parsed = _masked(spark, sf_dir)
    return drain.fit_distributed(parsed).select("cluster_id", "size", "template")


@register(
    "t1c_drain_invariants",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS total_size,
           CAST(count(*) AS BIGINT) AS n_matched,
           TRUE AS catalog_within_band
    FROM ({MASKED_LINES_SQL})
    """,
    doc="T1(c) faithful-Drain invariants as a HARD oracle (the "
    "similarity clustering itself is not SQL-expressible, but its "
    "conservation laws are): (1) catalog sizes sum to the exact line "
    "count — Drain assigns every line to exactly one cluster "
    "(process_logs_v10.py:59-81); (2) re-matching every line against "
    "the fitted catalog at the same sim_th=0.4 finds a cluster for "
    "all of them — the fit is self-consistent under T2 inference; "
    "(3) the catalog size lies in [1, n_distinct_masked] — "
    "generalization never invents clusters beyond the distinct-"
    "message count. DuckDB independently recomputes the line count "
    "and asserts the band constant, so a driver hash-match is a real "
    "verdict on the Drain path, not rows-only.",
)
def t1c_drain_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import drain

    parsed = _masked(spark, sf_dir)
    catalog = drain.fit_distributed(parsed)
    matched = drain.match_distributed(parsed, catalog)
    # catalog-bounded driver scalars (the catalog was already collected
    # once inside fit/match; these are cheap counts)
    n_clusters = catalog.count()
    n_distinct = parsed.select("masked").distinct().count()
    return (
        catalog.agg(F.sum("size").cast("long").alias("total_size"))
        .crossJoin(
            matched.filter(F.col("cluster_id").isNotNull()).agg(
                F.count(F.lit(1)).cast("long").alias("n_matched")
            )
        )
        .withColumn(
            "catalog_within_band", F.lit(1 <= n_clusters <= n_distinct)
        )
    )


# --- S1/S2: file-backed ingestion ------------------------------------------


@register(
    "s1_recursive_log_scan",
    """
    SELECT 'msg <*>' AS masked, CAST(100 AS BIGINT) AS n
    """,
    doc="S1/S2/P1: recursive container_*.log directory scan with listing-"
    "time glob pruning + stable line ids (process_logs_v10.py:86-111). "
    "HARD oracle via ground truth BY CONSTRUCTION: the query writes its "
    "own deterministic corpus (one matching log of 100 lines whose 7 "
    "message variants all mask to 'msg <*>', plus a decoy.txt that the "
    "glob must never open), so the exact expected output is a known "
    "constant — a hash match proves listing-time pruning, line parsing "
    "AND the masking chain end-to-end. The decoy's absence is load-"
    "bearing: any leak through the glob breaks the row count.",
)
def s1_recursive_log_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources import logs

    root = _tmp_corpus_dir("sg_s1_corpus_")
    app = os.path.join(root, "application_0001")
    os.makedirs(app, exist_ok=True)
    with open(os.path.join(app, "container_0001_01_000001.log"), "w") as f:
        for i in range(100):
            f.write(f"2024-01-01 00:00:{i % 60:02d},000 INFO [main] a.b.C: msg {i % 7}\n")
    with open(os.path.join(app, "decoy.txt"), "w") as f:
        f.write("must not be read\n")
    raw = logs.read_log_dir(spark, root)
    parsed = logs.parse_lines(raw)
    return (
        parsed.groupBy("masked")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("masked")
    )


# --- W2: per-key sequential numbering ---------------------------------------


@register(
    "w2_row_numbering",
    """
    SELECT event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
    """,
    doc="W2: stable sequential row numbering per key — the distributed "
    "replacement for the reference's implicit RangeIndex "
    "(process_logs.py:80-82).",
)
def w2_row_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select("event_id", F.row_number().over(w).alias("rn"))


# --- S2 / S6: the two remaining pytest-only sources, oracle-backed ----------


@register(
    "s2_single_file_source",
    """
    SELECT 'msg <*>' AS masked, CAST(120 AS BIGINT) AS n,
           CAST(1 AS BIGINT) AS first_line, CAST(120 AS BIGINT) AS last_line
    """,
    doc="S2: single flat-file source (reference process_logs.py:32-33). "
    "Same ground-truth-by-construction pattern as s1: the query writes "
    "one known 120-line file whose message variants all mask to "
    "'msg <*>', so the expected output — including the line-id span "
    "from W2's per-file numbering — is a hash-checkable constant. A "
    "broken reader, a dropped line, or an off-by-one in line_no breaks "
    "the hash.",
)
def s2_single_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources import logs

    root = _tmp_corpus_dir("sg_s2_corpus_")
    path = os.path.join(root, "flat_hadoop.log")
    with open(path, "w") as f:
        for i in range(120):
            f.write(
                f"2024-01-01 00:{i // 60:02d}:{i % 60:02d},000 INFO [main] "
                f"a.b.C: msg {i % 11}\n"
            )
    parsed = logs.parse_lines(logs.read_log_file(spark, path))
    return parsed.groupBy("masked").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("line_no").alias("first_line"),
        F.max("line_no").alias("last_line"),
    )


@register(
    "s6_memory_table_source",
    """
    SELECT 'level ' || event_type || ' from user <*>' AS masked,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(line_no) AS BIGINT) AS first_line,
           CAST(max(line_no) AS BIGINT) AS last_line
    FROM (
        SELECT event_type,
               ROW_NUMBER() OVER (ORDER BY event_id) AS line_no
        FROM events
    )
    GROUP BY 1
    """,
    doc="S6: in-memory/table-backed corpus through the SAME downstream "
    "pipeline as file sources (reference's in-memory constructor, "
    "process_logs_v10.py:157): synthesize a reference-shaped log line "
    "per events row, adapt via lines_from_df (which assigns W2 line "
    "ids from the order column), parse + mask. Oracle checks the "
    "masked-group row count AND the full line-id span, so the adapter's "
    "numbering — not just the masking — is value-checked.",
)
def s6_memory_table_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import logs

    ev = load(spark, sf_dir, "events")
    lines = ev.select(
        "event_id",
        F.concat(
            F.lit("2024-01-01 00:00:00,000 INFO [main] a.b.C: level "),
            F.col("event_type"),
            F.lit(" from user "),
            F.col("user_id").cast("string"),
        ).alias("line"),
    )
    raw = logs.lines_from_df(lines, "line", "event_id")
    parsed = logs.parse_lines(raw)
    return parsed.groupBy("masked").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("line_no").alias("first_line"),
        F.max("line_no").alias("last_line"),
    )


@register(
    "s3_malformed_line_audit",
    """
    SELECT TRUE AS has_ts, CAST(100 AS BIGINT) AS n,
           CAST(100 AS BIGINT) AS n_level
    UNION ALL
    SELECT FALSE AS has_ts, CAST(20 AS BIGINT) AS n,
           CAST(0 AS BIGINT) AS n_level
    """,
    doc="S3 robustness: the parse projection must survive malformed "
    "input — stack-trace continuation lines with no timestamp prefix "
    "(hadoop_logs.txt:944; the reference feeds them to the miner as-is) "
    "and regex-shaped-but-invalid dates (try_to_timestamp, never ANSI "
    "throw). Ground truth by construction: a corpus of 100 valid lines "
    "+ 20 tab-indented continuation lines; the audit pins (ts present, "
    "count, level-extracted count) per class as constants — a parser "
    "that throws, drops, or mis-attributes continuation lines breaks "
    "the hash.",
)
def s3_malformed_line_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources import logs

    root = _tmp_corpus_dir("sg_s3_corpus_")
    app = os.path.join(root, "application_0003")
    os.makedirs(app, exist_ok=True)
    with open(os.path.join(app, "container_0003_01_000001.log"), "w") as f:
        for i in range(100):
            f.write(
                f"2024-01-01 00:01:{i % 60:02d},000 WARN [main] a.b.C: "
                f"slow read took {i} ms\n"
            )
            if i % 5 == 0:
                f.write(f"\tat com.example.Worker.run(Worker.java:{i})\n")
    parsed = logs.parse_lines(logs.read_log_dir(spark, root))
    return parsed.groupBy(
        F.col("ts").isNotNull().alias("has_ts")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("level").alias("n_level"),
    )
