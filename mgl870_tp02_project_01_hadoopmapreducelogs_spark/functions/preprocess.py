"""F1-F6 — log-line preprocessing as Catalyst column expressions.

The reference applies per-line Python regexes, *destroying* the fields
(``preprocess_log_line``, process_logs_v10.py:48-57) and masking dynamic
tokens to ``<*>`` before mining (``masking extractors``,
process_logs_v10.py:24-37). Here the same transforms are declarative
column expressions (regexp_replace / regexp_extract / to_timestamp), so
they compile into whole-stage-codegen'd JVM code — no Python in the hot
path — and the structured fields are *extracted and kept* rather than
destroyed (FIXTURES.md §2).

Every regex below is deliberately kept in the common subset of Java
regex (Spark) and RE2 (DuckDB oracle) syntax.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- patterns observed in the reference -----------------------------------

#: F1 leading timestamp ``YYYY-MM-DD HH:MM:SS,mmm`` (process_logs_v10.py:50).
TS_PREFIX = r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3}"
#: F2 log level token (process_logs_v10.py:52).
LEVEL = r"\b(INFO|ERROR|WARN|DEBUG|TRACE|FATAL)\b"
#: F3 thread name ``[main]`` (process_logs_v10.py:54).
THREAD = r"\[([^\]]+)\]"
#: timestamp anywhere, for masking (process_logs_v10.py:26-28).
TS_ANY = r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(,\d+)?"
#: YARN application attempt id (process_logs_v10.py:33-35).
APPATTEMPT = r"appattempt_\d+_\d+_\d+"

#: F5 masking rule chain applied before mining. The reference masks
#: timestamp/level/appattempt (process_logs_v10.py:24-37); the extra rules
#: (container/application ids, hex, ips, ports, paths, bare numbers) are the
#: standard Drain-style masking set that makes template mining converge.
MASK_RULES: list[tuple[str, str]] = [
    ("timestamp", TS_ANY),
    ("appattempt", APPATTEMPT),
    ("container_id", r"container_\d+_\d+_\d+_\d+"),
    ("application_id", r"application_\d+_\d+"),
    ("attempt_id", r"attempt_\d+_\d+_\w_\d+_\d+"),
    ("task_id", r"task_\d+_\d+_\w_\d+"),
    ("word_num_id", r"\b[A-Za-z]+_\d+(_\d+)*\b"),
    # \b anchors keep Java-regex matching linear on pathological inputs
    # (an unanchored [a-zA-Z]+:// backtracks O(n²) on a megabyte token);
    # RE2 (the oracle) is linear either way and accepts \b.
    ("url", r"\b[a-zA-Z]+://[^\s]+"),
    ("path", r"(/[\w.\-]+){2,}"),
    ("ip_port", r"\b\d+\.\d+\.\d+\.\d+(:\d+)?"),
    ("float", r"\b\d+\.\d+\b"),
    ("hex", r"\b0x[0-9a-fA-F]+\b"),
    ("num_unit", r"\b\d+[a-zA-Z]+\b"),
    ("number", r"\b\d+\b"),
]

#: When each rule can match: ``(literal, needs_digit)``. Every match of
#: the rule contains ``literal`` (``""``: none) and, if ``needs_digit``,
#: an ASCII digit (``tests/test_properties.py`` checks both). A
#: replacement writes ``<*>``, which holds no digit and no character of
#: any literal, so what ``message`` lacks no step of the chain can
#: create, and a guard that fails on ``message`` skips a rule that could
#: not have matched. A rule missing here runs unguarded.
MASK_GUARDS: dict[str, tuple[str, bool]] = {
    "timestamp": (":", True),
    "appattempt": ("appattempt_", True),
    "container_id": ("container_", True),
    "application_id": ("application_", True),
    "attempt_id": ("attempt_", True),
    "task_id": ("task_", True),
    "word_num_id": ("_", True),
    "url": ("://", False),
    "path": ("/", False),
    "ip_port": (".", True),
    "float": (".", True),
    "hex": ("0x", False),
    "num_unit": ("", True),
    "number": ("", True),
}

MASK_TOKEN = "<*>"
#: the parsed column that holds the masked message, the mining key
MASKED_COL = "masked"


# --- F1-F4: strip functions (faithful reference semantics) ----------------


def strip_timestamp(col: Column) -> Column:
    """F1 — remove the leading timestamp (process_logs_v10.py:50)."""
    return F.regexp_replace(col, TS_PREFIX, "")


def strip_level(col: Column) -> Column:
    """F2 — remove log-level tokens (process_logs_v10.py:52)."""
    return F.regexp_replace(col, LEVEL, "")


def strip_thread(col: Column) -> Column:
    """F3 — remove ``[thread]`` names (process_logs_v10.py:54)."""
    return F.regexp_replace(col, r"\[\w+\]", "")


def normalize_ws(col: Column) -> Column:
    """F4 — collapse whitespace runs and trim (process_logs_v10.py:56)."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def preprocess(col: Column) -> Column:
    """The reference's full ``preprocess_log_line`` chain
    (process_logs_v10.py:48-57): F1 → F2 → F3 → F4, as one composed
    Catalyst expression.
    """
    return normalize_ws(strip_thread(strip_level(strip_timestamp(col))))


# --- F5: masking (param → <*>) ---------------------------------------------


def mask(df: DataFrame) -> DataFrame:
    """F5 — replace dynamic tokens with ``<*>`` (process_logs_v10.py:24-37).

    Reads ``message`` and appends ``MASKED_COL``: the ``MASK_RULES``
    chain of ``regexp_replace``, each step skipped where its
    ``MASK_GUARDS`` entry shows it cannot match. A ``regexp_replace``
    that finds nothing still decodes, copies and re-encodes the line.

    Each step is its own projection: ``when(guard, replace(prev))
    .otherwise(prev)`` reads ``prev`` twice, so ``CollapseProject``
    keeps the steps apart, and all of them run in one codegen stage.
    Folded into one nested expression, the chain has 2^14 copies of
    ``message`` and does not finish planning. Catalyst builds that same
    expression when it pushes a filter on ``MASKED_COL`` (Drain's
    ``isNotNull``, an inner join's inferred ``isnotnull``) down through
    the steps, substituting each one into the predicate. It pushes no
    filter through a projection with a nondeterministic field, so the
    chain ends in one: a no-op ``when`` on ``spark_partition_id()``.
    """
    message = F.col("message")
    has_digit = "_has_digit"
    out = df.withColumn(has_digit, message.rlike("[0-9]")).withColumn(
        MASKED_COL, message
    )
    for name, pattern in MASK_RULES:
        prev = F.col(MASKED_COL)
        step = F.regexp_replace(prev, pattern, MASK_TOKEN)
        if name in MASK_GUARDS:
            literal, needs_digit = MASK_GUARDS[name]
            guard = F.lit(True)
            if literal:
                guard = guard & message.contains(literal)
            if needs_digit:
                guard = guard & F.col(has_digit)
            step = F.when(guard, step).otherwise(prev)
        out = out.withColumn(MASKED_COL, step)
    done = F.col(MASKED_COL)
    fence = F.when(F.spark_partition_id() >= 0, done).otherwise(done)
    return out.drop(has_digit).withColumn(MASKED_COL, fence)


# --- extraction (engine-added: keep what the reference destroys) -----------


def extract_timestamp(col: Column) -> Column:
    """Parse the leading timestamp into a real TimestampType — NULL for
    continuation lines (stack traces with no prefix, hadoop_logs.txt:944).
    """
    raw = F.regexp_extract(col, f"({TS_PREFIX.lstrip('^')})", 1)
    # try_to_timestamp: a regex-shaped but invalid date (2024-13-45 …)
    # must yield NULL, not kill the ingest job (ANSI to_timestamp throws)
    return F.try_to_timestamp(
        F.nullif(raw, F.lit("")), F.lit("yyyy-MM-dd HH:mm:ss,SSS")
    )


def extract_level(col: Column) -> Column:
    return F.nullif(F.regexp_extract(col, LEVEL, 1), F.lit(""))


def extract_thread(col: Column) -> Column:
    return F.nullif(F.regexp_extract(col, THREAD, 1), F.lit(""))


def extract_logger(col: Column) -> Column:
    """Logger class: the dotted name before the first ``:`` after the
    thread, e.g. ``org.apache.hadoop.mapreduce.v2.app.MRAppMaster``.

    The leading ``\\b`` is load-bearing: unanchored, Java regex retries
    the nested quantifier at every offset of a long unbroken token —
    O(n²), ~30 min on a 1 MB line. Anchored it's linear (one attempt per
    word start). Semantics unchanged for ``[a-zA-Z_]``-initial loggers;
    only a (nonexistent in practice) ``$``-initial logger would differ.
    """
    return F.nullif(
        F.regexp_extract(col, r"\b((?:[a-zA-Z_$][\w$]*\.){2,}[A-Z][\w$]*):", 1),
        F.lit(""),
    )


def extract_message(col: Column) -> Column:
    """Free-text remainder after stripping ts/level/thread/logger prefix.

    Uses the full ``[...]`` thread pattern (THREAD), not the reference's
    ``\\[\\w+\\]`` (process_logs_v10.py:54) which silently keeps
    multi-word thread names like ``[IPC Server handler 5 on 57195]`` in
    the message — a reference defect we fix, not copy (SURVEY.md §2.13).
    """
    no_prefix = F.regexp_replace(strip_level(strip_timestamp(col)), THREAD, "")
    no_logger = F.regexp_replace(
        no_prefix, r"^\s*(?:[a-zA-Z_$][\w$]*\.){2,}[A-Z][\w$]*:\s*", ""
    )
    return normalize_ws(no_logger)


# --- F6: event label formatting --------------------------------------------


def event_label(col: Column) -> Column:
    """F6 — ``Event_<id>`` label (process_logs.py:83)."""
    return F.concat(F.lit("Event_"), col.cast("string"))


def event_id_from_label(col: Column) -> Column:
    """F6 inverse — parse id back from ``Event_<id>``
    (process_logs_v10.py:198-208)."""
    return F.split(col, "_").getItem(1).cast("long")
