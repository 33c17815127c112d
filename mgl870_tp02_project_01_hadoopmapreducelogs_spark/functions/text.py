"""Text-analysis function library (beyond-reference surface).

The training-data-pipeline operators a 100 TB corpus needs on top of
the reference's log surface: token counting, quality scoring, language
identification, document fingerprinting. All are pure Catalyst column
expressions (regexp_count / split / md5 / array ops) — JVM-side,
codegen'd, no Python per row — and each has a straightforward ANSI-SQL
equivalent for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- token counting ---------------------------------------------------------


def tokens(col: Column | str) -> Column:
    """Raw whitespace tokens: ``split(trim(col), '\\s+')``, the twin of
    DuckDB's ``regexp_split_to_array(trim(x), '\\s+')``. ``trim`` strips
    spaces only, so a leading tab or newline yields a leading empty
    token, and an empty or all-space text yields ``['']``, in both
    engines."""
    return F.split(F.trim(col), r"\s+")


def words(col: Column | str) -> Column:
    """Lowercased whitespace tokens: ``split(lower(trim(col)), '\\s+')``,
    the twin of DuckDB's ``regexp_split_to_array(lower(trim(x)),
    '\\s+')`` (same whitespace rules as ``tokens``).

    Condition on the data: the two engines' ``lower`` differ on a few
    special-cased characters. Spark maps ``'İ'`` to ``'i̇'`` (i plus a
    combining dot) and a word-final ``'Σ'`` to ``'ς'``, where DuckDB
    gives ``'i'`` and ``'σ'``. A corpus holding them would see oracle
    mismatches on the lowercased entries."""
    return F.split(F.lower(F.trim(col)), r"\s+")


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


WORDISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish token estimate: count word/number/punct units (a regex
    approximation of byte-pair pre-tokenization)."""
    return F.regexp_count(col, F.lit(WORDISH))


# --- quality scoring ---------------------------------------------------------

#: tiny multilingual stopword lists (public common words) — enough for a
#: ratio heuristic, deliberately small so the expression stays codegen'd.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "for", "it"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "est", "que"],
    "es": ["el", "la", "los", "de", "las", "y", "un", "una", "es", "que"],
    "de": ["der", "die", "das", "und", "ein", "eine", "ist", "zu", "den", "von"],
    "zh": ["的", "了", "在", "是", "我", "有", "和", "不", "人", "这"],
}


def punct_ratio(col: Column) -> Column:
    """Punctuation chars / total chars (0 for empty strings)."""
    n = F.length(col)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.regexp_count(col, F.lit(r"[^\w\s]")) / n.cast("double")
    )


def stopword_hits(col: Column, lang: str = "en") -> Column:
    """Count of stopword occurrences (word-bounded, case-insensitive)."""
    words = "|".join(STOPWORDS[lang])
    return F.regexp_count(F.lower(col), F.lit(rf"\b({words})\b"))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    tc = token_count(col)
    return F.when(tc == 0, F.lit(0.0)).otherwise(
        stopword_hits(col, lang) / tc.cast("double")
    )


def quality_score(col: Column, lang: str = "en") -> Column:
    """Composite document quality in [0,1]: length band + low punct +
    stopword presence — the standard cheap pre-filter for LLM corpus
    cleaning (C4/Gopher-style rules, expressed as one projection)."""
    n_tokens = token_count(col).cast("double")
    length_ok = F.when((n_tokens >= 10) & (n_tokens <= 100000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(col) < 0.3, 1.0).otherwise(0.0)
    stop_ok = F.when(stopword_ratio(col, lang) > 0.01, 1.0).otherwise(0.0)
    return (length_ok + punct_ok + stop_ok) / F.lit(3.0)


# --- language identification -------------------------------------------------


def lang_scores(col: Column) -> list[tuple[str, Column]]:
    return [(lang, stopword_hits(col, lang)) for lang in STOPWORDS]


def detect_language(col: Column, default: str = "en") -> Column:
    """Stopword-vote language ID: argmax over per-language hit counts,
    ties broken by language code order (deterministic). One projection;
    at 100 TB this is a map-only pass."""
    # argmax as nested CASE WHEN — fully codegen'd
    pairs = sorted(lang_scores(col), key=lambda kv: kv[0])  # deterministic tie-break
    max_col = F.greatest(*[s for _, s in pairs]) if len(pairs) > 1 else pairs[0][1]
    expr = F.lit(None).cast("string")
    for lang, s in reversed(pairs):
        expr = F.when((s == max_col) & (max_col > 0), F.lit(lang)).otherwise(expr)
    return F.coalesce(expr, F.lit(default))


# --- fingerprinting -----------------------------------------------------------


def normalize_text(col: Column) -> Column:
    """Lowercase, strip non-word chars, collapse whitespace — the
    canonical form for exact-dup detection."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(col), r"[^\w\s]", ""), r"\s+", " ")
    )


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (content
    address; stable across runs and engines)."""
    return F.md5(normalize_text(col))


def word_shingles(col: Column, k: int = 3) -> Column:
    """k-word shingles as an array<string> — input to MinHash/Jaccard
    dedup. Built with transform over a token index sequence (no UDF).

    The tokenized array is bound once as a lambda variable (the
    one-element-transform let idiom); referencing the split expression
    inline would re-run normalize+split for every slice position —
    O(tokens^2) per row.
    """

    def shingles(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
        )

    bound = F.transform(
        F.array(F.split(normalize_text(col), " ")), lambda toks: shingles(toks)
    )
    return F.get(bound, 0)
