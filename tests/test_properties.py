"""Property-based tests (SURVEY §5.2 item 4) — hypothesis over the
masking/mining semantics."""

import re

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.functions import preprocess as P
from mgl870_tp02_project_01_hadoopmapreducelogs_spark.operators.drain import DrainMiner

# pure-Python mirror of the masking chain for property checks
_RULES = [re.compile(p) for _, p in P.MASK_RULES]


def _mask_py(s: str) -> str:
    for r in _RULES:
        s = r.sub("<*>", s)
    return s


_ASCII_DIGIT = re.compile("[0-9]")


def _guards_hold(name: str, s: str) -> bool:
    literal, needs_digit = P.MASK_GUARDS[name]
    return literal in s and (not needs_digit or _ASCII_DIGIT.search(s) is not None)


def _mask_guarded_py(s: str) -> str:
    """Mirror of ``preprocess.mask``: every guard is read off the input
    once, and a rule whose guard fails is skipped."""
    run = [
        name not in P.MASK_GUARDS or _guards_hold(name, s) for name, _ in P.MASK_RULES
    ]
    for r, on in zip(_RULES, run):
        if on:
            s = r.sub("<*>", s)
    return s


# ASCII only: Python's \d also matches non-ASCII digits, Java's does not
_pieces = st.sampled_from(
    list("0123456789aAbexXzZ_/:.- ")
    + ["<*>", "http", "2024-01-01 10:00:00", ",123", "deadbeef", "ms", "MB"]
    + ["10.0.0.1:50010", "3.14", "blk_42", "0x1f", "/tmp/a.b", "hdfs://nn:8020/x"]
    + ["appattempt_1_2_3", "container_1_2_3_4", "application_1_2"]
    + ["attempt_1_2_m_3_4", "task_1_2_m_3", "5ms", "17"]
    + [lit for lit, _ in P.MASK_GUARDS.values() if lit]
)
mask_inputs = st.lists(_pieces, max_size=24).map("".join)


def test_every_mask_rule_has_a_guard():
    assert [name for name, _ in P.MASK_RULES] == list(P.MASK_GUARDS)


@given(mask_inputs)
@example("see http://h/2024-01-01 10:00:00 ok")
@example("5container_1_2_3_4")
@settings(max_examples=1000, suppress_health_check=[HealthCheck.too_slow])
def test_guarded_masking_equals_the_sequential_chain(msg):
    assert _mask_guarded_py(msg) == _mask_py(msg)


@given(mask_inputs)
@example("see http://h/2024-01-01 10:00:00 ok")
@example("5container_1_2_3_4")
@settings(max_examples=1000, suppress_health_check=[HealthCheck.too_slow])
def test_every_rule_match_holds_its_guard(msg):
    """Each rule's matches, on the input and on every intermediate value
    of the chain, contain the rule's literal and, where the table says
    so, an ASCII digit."""
    s = msg
    for (name, _), r in zip(P.MASK_RULES, _RULES):
        for m in r.finditer(s):
            assert _guards_hold(name, m.group()), (name, m.group())
        s = r.sub("<*>", s)


tokens = st.sampled_from(
    ["started", "block", "blk_42", "10.0.0.1:50010", "worker", "3.14",
     "appattempt_1_2_3", "0xdeadbeef", "retry", "17"]
)
messages = st.lists(tokens, min_size=1, max_size=8).map(" ".join)


@given(messages)
@settings(max_examples=200, suppress_health_check=[HealthCheck.too_slow])
def test_masking_is_idempotent(msg):
    once = _mask_py(msg)
    assert _mask_py(once) == once


@given(messages)
@settings(max_examples=200, suppress_health_check=[HealthCheck.too_slow])
def test_masking_leaves_no_digits_outside_wildcards(msg):
    masked = _mask_py(msg)
    assert not re.search(r"\d", masked.replace("<*>", ""))


@given(st.lists(messages, min_size=1, max_size=30))
@settings(max_examples=50, deadline=None)
def test_drain_size_conservation(msgs):
    m = DrainMiner(depth=4, sim_th=0.4)
    for msg in msgs:
        m.add(_mask_py(msg))
    assert sum(size for _, size in m.templates()) == len(msgs)


@given(st.lists(messages, min_size=1, max_size=20))
@settings(max_examples=50, deadline=None)
def test_drain_every_fitted_line_matches(msgs):
    m = DrainMiner(depth=4, sim_th=0.4)
    masked = [_mask_py(x) for x in msgs]
    for msg in masked:
        m.add(msg)
    for msg in masked:
        assert m.match(msg) is not None


# --- content-fingerprint normalization (the root of every exact-dedup op) ----

_norm_punct = re.compile(r"[^\w\s]", re.ASCII)
_norm_ws = re.compile(r"\s+")


def _norm_py(s: str) -> str:
    """Pure-Python mirror of functions.text.normalize_text (Java \\w is
    ASCII-classed; the strategy stays ASCII so the mirrors agree)."""
    return _norm_ws.sub(" ", _norm_punct.sub("", s.lower())).strip()


ascii_words = st.lists(
    st.text(st.characters(min_codepoint=48, max_codepoint=122), min_size=1, max_size=8),
    min_size=1,
    max_size=6,
).map(" ".join)


@given(ascii_words)
@settings(max_examples=200, suppress_health_check=[HealthCheck.too_slow])
def test_normalize_is_idempotent_and_canonical(s):
    n = _norm_py(s)
    assert _norm_py(n) == n
    assert "  " not in n and n == n.strip()


@given(ascii_words)
@settings(max_examples=200, suppress_health_check=[HealthCheck.too_slow])
def test_normalize_invariant_under_cosmetic_edits(s):
    """The edits exact dedup MUST see through: case, extra whitespace,
    punctuation injection. All map to the same canonical form, hence
    the same fingerprint."""
    base = _norm_py(s)
    assert _norm_py(s.upper()) == base
    assert _norm_py("  " + s.replace(" ", "\t \t") + " \n") == base
    assert _norm_py(s + "!!!") == _norm_py(s + "...")


def test_normalize_mirror_matches_spark(spark):
    """Bridge the Python mirror to the engine expression on the cases
    where they could plausibly diverge (regex class semantics, trim)."""
    from pyspark.sql import functions as F

    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.functions import text as TX

    samples = [
        "Hello, World!",
        "  spaced\t\tout\nlines  ",
        "UPPER lower MiXeD",
        "punct!@#$%^&*()everywhere",
        "digits 123 and under_scores",
        "a",
        "...",
        "trailing punct.",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    got = [
        r.n for r in df.select(TX.normalize_text(F.col("t")).alias("n")).collect()
    ]
    assert got == [_norm_py(s) for s in samples]


# --- BPE two-space merge encoding (text_bpe_train / text_bpe_apply) ---------
#
# The engines apply a BPE merge as a literal string replace over a
# two-space-delimited symbol encoding. Python's str.replace shares the
# left-to-right restart-after-replacement semantics of Spark's replace()
# and DuckDB's replace() (verified empirically on the overlap cases), so
# proving the ENCODING correct against a reference list-based greedy
# merge here covers all three engines.


def _merge_ref(seq, a, b):
    out, i = [], 0
    while i < len(seq):
        if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


_sym = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=3,
)


@given(st.lists(_sym, min_size=1, max_size=12), _sym, _sym)
@settings(max_examples=300, suppress_health_check=[HealthCheck.too_slow])
def test_two_space_replace_is_greedy_bpe_merge(seq, a, b):
    enc = " " + "  ".join(seq) + " "
    merged = enc.replace(f" {a}  {b} ", f" {a}{b} ")
    assert merged.strip().split("  ") == _merge_ref(seq, a, b)


@given(st.lists(_sym, min_size=2, max_size=12))
@settings(max_examples=300, suppress_health_check=[HealthCheck.too_slow])
def test_two_space_merge_overlap_chains(seq):
    # the classic failure mode: 'a a a a' with pair (a,a) must merge
    # GREEDILY left-to-right, never the overlapping middle pair
    a = seq[0]
    enc = " " + "  ".join([a] * len(seq)) + " "
    merged = enc.replace(f" {a}  {a} ", f" {a}{a} ")
    want = [a + a] * (len(seq) // 2) + [a] * (len(seq) % 2)
    assert merged.strip().split("  ") == want
