"""Invariant tests for the training-pipeline ops added in round 2:
vocabulary induction, stratified hash sampling, sequence packing,
length quantiles, and streaming exact dedup. (Value parity vs DuckDB
is covered by the oracle gate; these pin the semantic invariants the
oracle can't express.)"""

from pyspark.sql import functions as F

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


def test_vocab_topk_ordering_and_df_bound(spark):
    rows = REGISTRY["text_vocab_topk"].run(spark, SF_DIR).collect()
    assert len(rows) <= 100
    # descending by cnt, ties broken lexically; doc_freq never exceeds cnt
    for a, b in zip(rows, rows[1:]):
        assert a.cnt > b.cnt or (a.cnt == b.cnt and a.token <= b.token)
    assert all(r.doc_freq <= r.cnt for r in rows)


def test_stratified_sample_is_deterministic_and_downsamples_en(spark):
    q = REGISTRY["text_sample_stratified"].run
    once = {r.doc_id for r in q(spark, SF_DIR).collect()}
    again = {r.doc_id for r in q(spark, SF_DIR).collect()}
    assert once == again  # seedless: identical across runs
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_en = docs.filter(F.col("lang") == "en").count()
    kept_en = q(spark, SF_DIR).filter(F.col("lang") == "en").count()
    n_other = docs.filter(F.col("lang") != "en").count()
    kept_other = q(spark, SF_DIR).filter(F.col("lang") != "en").count()
    assert kept_other == n_other  # non-en kept whole
    assert kept_en < n_en  # en strictly downsampled (~25%)


def test_pack_sequences_contiguous_per_lang(spark):
    out = REGISTRY["text_pack_sequences"].run(spark, SF_DIR)
    rows = sorted(out.collect(), key=lambda r: (r.lang, r.doc_id))
    # pack ids start at 0 per language, never decrease in doc_id order,
    # and step by at most ceil(n_tokens/2048)+1 (a doc can span windows)
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        assert rs[0].pack_id == 0
        off = 0
        for r in rs:
            assert r.pack_id == off // 2048
            off += r.n_tokens


def test_length_quantiles_monotone(spark):
    rows = REGISTRY["text_length_quantiles"].run(spark, SF_DIR).collect()
    assert rows  # one row per language present
    for r in rows:
        assert r.p25 <= r.p50 <= r.p75 <= r.p95
        assert r.n_docs > 0


def test_streaming_dedup_matches_batch_distinct(spark):
    out = REGISTRY["streaming_dedup_exact"].run(spark, SF_DIR)
    got = {(r.user_id, r.event_type) for r in out.collect()}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want = {
        (r.user_id, r.event_type)
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    assert got == want


def test_chunking_covers_every_token_with_overlap(spark):
    """Every token position lands in >=1 chunk; consecutive chunks of a
    long doc overlap by exactly size-stride tokens; no chunk exceeds
    the window size."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
    )

    chunks = REGISTRY["text_chunk_documents"].run(spark, SF_DIR)
    docs = REGISTRY["text_token_count"].run(spark, SF_DIR)
    got = (
        chunks.groupBy("doc_id")
        .agg(
            F.max(F.col("start_tok") + F.col("chunk_tokens") - 1).alias("covered"),
            F.max("chunk_tokens").alias("max_chunk"),
            F.count(F.lit(1)).alias("n_chunks"),
        )
        .join(docs.select("doc_id", "n_tokens"), "doc_id")
        .collect()
    )
    assert got, "no chunks produced"
    for r in got:
        assert r.covered == r.n_tokens, f"doc {r.doc_id} tail not covered"
        assert r.max_chunk <= CHUNK_SIZE
        # starts are 1, 1+stride, ... -> count is ceil(n/stride)
        assert r.n_chunks == -(-r.n_tokens // CHUNK_STRIDE)


def test_pii_masking_catches_all_planted_pii(spark):
    """The planted email/IP/phone suffix must be fully masked — no raw
    @example.com, dotted-quad, or +1-555 survives; every row counts
    exactly the 3 planted items (corpus text itself has no PII)."""
    out = REGISTRY["text_mask_pii"].run(spark, SF_DIR)
    assert out.filter(F.col("masked").contains("@example.com")).count() == 0
    assert out.filter(F.col("masked").rlike(r"\d+\.\d+\.\d+\.\d+")).count() == 0
    assert out.filter(F.col("masked").contains("+1-555")).count() == 0
    assert out.filter(F.col("n_pii") != 3).count() == 0


def test_tfidf_topk_is_per_doc_and_positive(spark):
    out = REGISTRY["text_tfidf_topk"].run(spark, SF_DIR).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r)
    for doc, rows in per_doc.items():
        assert len(rows) <= 3
        # a token appearing in EVERY doc has idf=0 and cannot be a top
        # term unless the doc has <3 distinct rarer tokens
        assert all(r.tfidf >= 0 for r in rows)


def test_label_centroids_shape_and_bounds(spark):
    emb_dim = 64
    out = REGISTRY["sim_label_centroids"].run(spark, SF_DIR)
    rows = out.collect()
    labels = {r.label for r in rows}
    assert all(1 <= r.pos <= emb_dim for r in rows)
    assert len(rows) == len(labels) * emb_dim
    # every centroid coordinate must lie within the data's value range
    lo, hi = -2.0, 2.0
    assert all(lo <= r.centroid_val <= hi for r in rows)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_remove_dup_spans_planted_span(spark):
    """A shared 8-token span is removed from every doc except the
    smallest doc_id; unique text survives untouched; a doc shorter
    than the span length is never modified."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import textops

    span = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"unique one {span} tail one"),
        (2, f"other words here {span} and more padding tokens"),
        (3, "completely different text with nothing shared at all ok"),
        (4, "tiny doc"),
    ]
    docs = _docs(spark, rows)
    import mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops as T

    orig_load, orig_spread = T.load, T.spread
    T.load = lambda s, d, n: docs
    T.spread = lambda df, p: df
    try:
        out = {r.doc_id: r for r in T.text_remove_dup_spans(spark, "x").collect()}
    finally:
        T.load, T.spread = orig_load, orig_spread
    # doc 1 is the keeper: unchanged
    assert out[1].cleaned == rows[0][1]
    assert out[1].n_removed == 0
    # doc 2 loses exactly the 8 span tokens, order of the rest intact
    assert out[2].cleaned == "other words here and more padding tokens"
    assert out[2].n_removed == 8
    # untouched docs
    assert out[3].n_removed == 0 and out[3].cleaned == rows[2][1]
    assert out[4].n_removed == 0 and out[4].cleaned == "tiny doc"


def test_keep_best_picks_longest_per_component(spark):
    out = REGISTRY["dedup_keep_best"].run(spark, SF_DIR).collect()
    by_comp = {}
    for r in out:
        by_comp.setdefault(r.component, []).append(r)
    # exactly one kept doc per component, and it's the longest
    for comp, rs in by_comp.items():
        kept = [r for r in rs if r.kept == 1]
        assert len(kept) == 1
        assert kept[0].n_tokens == max(r.n_tokens for r in rs)
    # every document appears exactly once
    assert len(out) == spark.read.parquet(f"{SF_DIR}/documents.parquet").count()


# --- round-4 incremental / cross-run ops ------------------------------------


def test_incremental_dedup_never_emits_indexed_content(spark):
    """A kept batch doc's fingerprint must not exist in the index side
    (even doc_ids), and keepers are batch-side (odd) by construction."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.functions import (
        text as TX,
    )

    kept = REGISTRY["dedup_incremental_index"].run(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    idx_fps = {
        r.fp
        for r in docs.filter(F.col("doc_id") % 2 == 0)
        .select(TX.fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .collect()
    }
    rows = kept.collect()
    assert rows, "batch should keep at least one novel doc"
    assert all(r.keeper % 2 == 1 for r in rows)
    assert all(r.fp not in idx_fps for r in rows)
    # keep-first within batch: one output row per fingerprint
    assert len({r.fp for r in rows}) == len(rows)


def test_deterministic_shuffle_stable_across_relayout(spark):
    """The training order is a pure function of doc_id + seed: the same
    head-of-order must come back after an arbitrary repartition of the
    input (the property rand()-based shuffles lack)."""
    q = REGISTRY["corpus_shuffle_deterministic"].run
    first = [(r.doc_id, r.shuffle_key) for r in q(spark, SF_DIR).collect()]
    again = [(r.doc_id, r.shuffle_key) for r in q(spark, SF_DIR).collect()]
    assert first == again
    # keys strictly ordered, no duplicate doc ids
    keys = [k for _, k in first]
    assert keys == sorted(keys)
    assert len({d for d, _ in first}) == len(first)


def test_split_leakage_audit_conserves_and_finds_planted_leak(spark):
    row = REGISTRY["split_leakage_audit"].run(spark, SF_DIR).collect()[0]
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert row.n_train + row.n_test == n_docs
    # ~20% hash split, loose band
    assert 0.08 * n_docs <= row.n_test <= 0.35 * n_docs
    # leaked test docs can never exceed the test side or the leaked fps' docs
    assert 0 <= row.n_leaked_test_docs <= row.n_test
    assert row.n_leaked_fps <= row.n_leaked_test_docs or row.n_leaked_fps == 0


def test_kfold_assignment_partitions_exactly(spark):
    """k-fold laws the oracle's counts imply but don't state: every row
    in exactly one of 4 folds (conservation), all folds non-degenerate,
    and the assignment is stable across runs (pure key function)."""
    q = REGISTRY["ml_kfold_assignment"].run
    rows = q(spark, SF_DIR).collect()
    folds = {r.fold for r in rows}
    assert folds <= {0, 1, 2, 3}
    n_total = sum(r.n for r in rows)
    again = sum(r.n for r in q(spark, SF_DIR).collect())
    assert n_total == again and n_total > 0
    # conservation vs an INDEPENDENT count: every windowed row lands in
    # exactly one fold, so the fold totals must equal the dataset size
    n_windows = REGISTRY["ml_windowed_dataset"].run(spark, SF_DIR).count()
    assert n_total == n_windows, (n_total, n_windows)
    per_fold = {}
    for r in rows:
        per_fold[r.fold] = per_fold.get(r.fold, 0) + r.n
    # exactly-uniform hex map: no fold may collapse (loose 10% floor)
    assert all(v >= 0.1 * n_total / 4 for v in per_fold.values()), per_fold


def test_corpus_drift_psi_laws(spark):
    """PSI contribution (p-q)ln(p/q) is non-negative for every bucket
    (both factors share a sign), and the per-feature bucket counts
    conserve the corpus on each side."""
    rows = REGISTRY["dq_corpus_drift"].run(spark, SF_DIR).collect()
    assert rows, "drift audit returned nothing"
    assert all(r.psi_contrib >= 0 for r in rows), rows
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    for feat in {r.feature for r in rows}:
        sub = [r for r in rows if r.feature == feat]
        assert sum(r.n_ref + r.n_cur for r in sub) == n_docs, feat


def test_bigram_logprob_bounds(spark):
    """Smoothed bigram log-probs are strictly negative (probabilities
    < 1 with add-k smoothing and V > 1) and every scored doc has
    tokens-1 bigrams."""
    rows = {
        r.doc_id: r
        for r in REGISTRY["text_bigram_logprob"].run(spark, SF_DIR).collect()
    }
    assert rows
    assert all(r.avg_bigram_logprob < 0 for r in rows.values())
    toks = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            "doc_id",
            F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("n"),
        )
        .collect()
    )
    for t in toks:
        if t.n >= 2:
            assert rows[t.doc_id].n_bigrams == t.n - 1, t.doc_id
        else:
            assert t.doc_id not in rows


def test_gopher_repetition_flags_planted_repeats(spark, tmp_path):
    """Gopher word-n-gram repetition rules on planted docs: a doc that
    is one bigram repeated must flag (top-2-gram char fraction ~1 >
    0.20); a doc with a duplicated long 5-gram run flags on the
    dup-5-gram rule; diverse text flags neither. The flag predicate is
    integer-exact, so these are hard assertions, not tolerances."""
    docs = spark.createDataFrame(
        [
            (1, ("spam ham " * 30).strip()),            # one bigram repeated
            (2, "a b c d e f g h " * 8 + "unique tail"),  # dup 5-grams
            (3, "the quick brown fox jumps over a lazy dog tonight"),
        ],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in REGISTRY["text_gopher_repetition"]
        .run(spark, str(tmp_path))
        .collect()
    }
    assert out[1].gopher_repetition_flagged
    assert out[1].top_bigram_char_frac > 0.8
    assert out[2].gopher_repetition_flagged
    assert out[2].dup_5gram_token_frac > 0.15
    assert not out[3].gopher_repetition_flagged
    assert out[3].dup_5gram_token_frac == 0.0
    # every fraction is a valid [0, 1] ratio
    for r in out.values():
        assert 0.0 <= r.top_bigram_char_frac <= 1.0
        assert 0.0 <= r.dup_5gram_token_frac <= 1.0


def test_dsir_selection_prefers_target_domain(spark):
    """The Radon-Nikodym invariant of DSIR importance weights: over
    the FULL weight table, E[log p_t/p_c] is +KL(p_t||p_c) for
    target-domain docs and -KL for raw docs, so English docs must
    average strictly higher (the synthetic languages share one 31-word
    vocabulary, so this is a frequency-profile, not vocabulary, test).
    The registered top-k must be non-increasing, at-or-above the
    corpus base rate of the target lang, and exactly the k highest
    weights."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops import (
        dsir_weights,
    )

    all_w = dsir_weights(spark, SF_DIR).collect()
    en = [r.dsir_logweight for r in all_w if r.lang == "en"]
    other = [r.dsir_logweight for r in all_w if r.lang != "en"]
    assert sum(en) / len(en) > sum(other) / len(other)

    rows = REGISTRY["text_dsir_selection"].run(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 50
    ws = [r.dsir_logweight for r in rows]
    assert ws == sorted(ws, reverse=True)
    base = len(en) / len(all_w)
    langs = [r.lang for r in rows]
    assert langs.count("en") / len(langs) >= base * 0.9
    top_true = sorted(
        (r.dsir_logweight, r.doc_id) for r in all_w
    )[-len(rows):]
    assert top_true, "full weight table must be non-empty"
    assert min(ws) >= top_true[0][0]


def test_exact_substring_planted_shared_run(spark, tmp_path):
    """ExactSubstr (Lee et al. 2022) on planted docs: two docs sharing
    an identical 60-token run must both have exactly that run covered
    (the 50-gram chain reconstructs the full 60-token span via the
    interval-union formula); a unique doc and a doc shorter than 50
    tokens are untouched. Coverage arithmetic is integer-exact."""
    common = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, common),                                        # 60 toks
            (2, " ".join(f"u{i}" for i in range(10)) + " " + common),
            (3, " ".join(f"v{i}" for i in range(55))),          # unique
            (4, " ".join(f"x{i}" for i in range(20))),          # < K toks
        ],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in REGISTRY["dedup_exact_substring"]
        .run(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert (out[1].dup_span_tokens, out[1].dup_span_frac) == (60, 1.0)
    assert out[2].n_tokens == 70
    assert out[2].dup_span_tokens == 60  # only the shared run, not u*
    assert out[2].dup_span_frac == 0.8571
    for d in (3, 4):
        assert out[d].dup_span_tokens == 0
        assert not out[d].has_dup_span
    assert out[1].has_dup_span and out[2].has_dup_span


def test_exact_substring_invariants_on_corpus(spark):
    """Corpus-run bounds: coverage never exceeds the doc's tokens, the
    flag is exactly coverage>0, docs shorter than the 50-token window
    can never be covered, and the output is one row per document."""
    rows = REGISTRY["dedup_exact_substring"].run(spark, SF_DIR).collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(rows) == n_docs
    for r in rows:
        assert 0 <= r.dup_span_tokens <= r.n_tokens
        assert r.has_dup_span == (r.dup_span_tokens > 0)
        if r.n_tokens < 50:
            assert r.dup_span_tokens == 0


def test_quality_classifier_composition_and_signs(spark):
    """The learned-classifier entry must agree with its parts: the
    heuristic column equals text_quality_filter's keep per doc, the
    final keep is the AND of label and heuristic, the label agrees in
    sign with the reported logit (the label thresholds the exact
    integer sum, the logit is its rounded mean), one row per doc, and
    the scoring is deterministic across runs."""
    rows = REGISTRY["text_quality_classifier"].run(spark, SF_DIR).collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(rows) == n_docs
    heur = {
        r.doc_id: r.keep
        for r in REGISTRY["text_quality_filter"].run(spark, SF_DIR).collect()
    }
    for r in rows:
        assert r.heuristic_keep == heur[r.doc_id]
        assert r.keep == (r.clf_label and r.heuristic_keep)
        if r.clf_logit > 0:
            assert r.clf_label
        if r.clf_logit < 0:
            assert not r.clf_label
    again = REGISTRY["text_quality_classifier"].run(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # serving parity with the frozen model: the Spark plan's label must
    # equal the sign of the offline scorer's exact integer sum, doc by
    # doc (the trained weights keep every real-vocab doc here — the
    # negative class is gibberish, exercised in tests/test_qclf.py)
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.ml import (
        qclf_train as qt,
    )
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.qclf_weights import (
        QCLF_WEIGHTS_HEX,
    )

    w = qt.decode_hex(QCLF_WEIGHTS_HEX, qt.N_BUCKETS)
    texts = {
        d.doc_id: d.text
        for d in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    for r in rows:
        assert r.clf_label == (qt.score_fp(texts[r.doc_id], w) > 0)


def test_gopher_interval_union_formula():
    """The covered-position formula behind dup_5gram_token_frac:
    for fixed-length-5 intervals at sorted distinct starts,
    5 + sum(min(5, gap)) must equal the exact union size
    |union of [p, p+4]| — property-checked against a brute-force
    position-set union."""
    from hypothesis import given, strategies as st

    @given(
        st.sets(st.integers(min_value=0, max_value=200), min_size=1)
    )
    def check(starts):
        ps = sorted(starts)
        brute = len({x for p in ps for x in range(p, p + 5)})
        formula = 5 + sum(
            min(5, b - a) for a, b in zip(ps, ps[1:])
        )
        assert formula == brute

    check()


def test_ccnet_terciles_balanced_and_ordered(spark):
    """CCNet bucketing invariants on the real corpus: within every
    language the three terciles differ in size by at most 1 (NTILE
    contract), and because the cut orders by the raw per-token NLL,
    the ROUNDED avg_token_nll is monotone head <= middle <= tail
    (rounding is monotone, ties allowed)."""
    rows = REGISTRY["text_ccnet_buckets"].run(spark, SF_DIR).collect()
    assert rows
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, {}).setdefault(r.ppl_tercile, []).append(
            r.avg_token_nll
        )
        assert r.ccnet_bucket == {1: "head", 2: "middle", 3: "tail"}[
            r.ppl_tercile
        ]
        assert r.avg_token_nll > 0  # NLL of a probability < 1
    for lang, tiles in by_lang.items():
        sizes = [len(tiles.get(k, [])) for k in (1, 2, 3)]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        for lo, hi in ((1, 2), (2, 3)):
            if tiles.get(lo) and tiles.get(hi):
                assert max(tiles[lo]) <= min(tiles[hi]), (lang, lo, hi)


def test_ccnet_rare_token_doc_lands_in_tail(spark, tmp_path):
    """A doc made of corpus-singleton tokens has the highest per-token
    NLL under its language's LM and must land in the tail tercile;
    languages are scored independently (the other language's docs do
    not shift it)."""
    docs = spark.createDataFrame(
        [
            (1, "common common common common", "en"),
            (2, "common common common mixed", "en"),
            (3, "common mixed mixed mixed", "en"),
            (4, "zebra qoph xylem", "en"),  # singletons -> max NLL
            (5, "autre langue texte ici", "fr"),
            (6, "autre langue texte ici", "fr"),
        ],
        "doc_id long, text string, lang string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in REGISTRY["text_ccnet_buckets"]
        .run(spark, str(tmp_path))
        .collect()
    }
    assert out[4].ccnet_bucket == "tail"
    assert out[4].avg_token_nll == max(
        out[d].avg_token_nll for d in (1, 2, 3, 4)
    )
    # fr is its own partition: 2 docs over 3 tiles -> terciles 1 and 2
    assert {out[5].ppl_tercile, out[6].ppl_tercile} == {1, 2}


def test_soft_reweight_planted_duplicates(spark, tmp_path):
    """SoftDedup reweighting on planted docs: an exact duplicate pair
    gets commonness ln(2) and weight 1/(1+ln 2); a unique doc keeps
    commonness 0 / weight 1; a doc under 5 tokens is weight 1 by
    definition. Values are engine-exact fixed-point, so these are
    equality assertions."""
    import math

    twenty = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, twenty),
            (2, twenty),  # exact duplicate of 1: every 5-gram count = 2
            (3, " ".join(f"u{i}" for i in range(20))),  # unique
            (4, "a b c"),  # < 5 tokens
        ],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in REGISTRY["dedup_soft_reweight"]
        .run(spark, str(tmp_path))
        .collect()
    }
    ln2_fp = round(math.log(2) * 1e9)
    expected_c = round(ln2_fp / 1e9 / 1, 4)  # avg over identical terms
    assert out[1].commonness == round(math.log(2), 4) == expected_c
    assert out[2].commonness == out[1].commonness
    assert out[1].soft_weight == round(1.0 / (1.0 + ln2_fp * 16 / 1e9 / 16), 4)
    assert out[3].commonness == 0.0 and out[3].soft_weight == 1.0
    assert out[4].n_grams == 0
    assert out[4].commonness == 0.0 and out[4].soft_weight == 1.0
    # weights decay monotonically in commonness, bounded (0, 1]
    for r in out.values():
        assert 0.0 < r.soft_weight <= 1.0


def test_bm25_ranking_invariants_and_length_norm(spark, tmp_path):
    """BM25 on planted docs: a doc matching the rare term + common
    terms outranks a common-term-only doc (idf); of two docs with the
    same tf, the longer one scores lower (length normalization); docs
    with no query term are absent."""
    filler = " ".join(f"f{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, "dup spark window " + " ".join(f"x{i}" for i in range(10))),
            (2, "spark window spark " + " ".join(f"y{i}" for i in range(10))),
            (3, "spark window spark " + filler),  # same tf, longer
            (4, "no query terms here at all"),
        ],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = REGISTRY["text_bm25_search"].run(spark, str(tmp_path)).collect()
    scores = {r.doc_id: r.bm25_score for r in rows}
    assert 4 not in scores
    assert scores[1] > scores[2] > scores[3]
    got = {r.doc_id: r.n_terms_matched for r in rows}
    assert got[1] == 3 and got[2] == 2 and got[3] == 2
    # corpus run: top-k bounded, scores sorted non-increasing
    top = REGISTRY["text_bm25_search"].run(spark, SF_DIR).collect()
    assert 0 < len(top) <= 10
    ss = [r.bm25_score for r in top]
    assert all(a >= b for a, b in zip(ss, ss[1:]))
    assert all(1 <= r.n_terms_matched <= 3 for r in top)


def test_source_profile_conservation_and_block_rule(spark, tmp_path):
    """Per-source profile: doc counts conserve, fractions recompute
    from the integer columns, and the block rule fires exactly per its
    integer-product definition — verified on the real corpus AND on a
    planted corpus with a dup-heavy source and a junk source."""
    rows = REGISTRY["dq_source_profile"].run(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert sum(r.n_docs for r in rows) == docs.count()
    assert len(rows) == docs.select("source").distinct().count()
    for r in rows:
        assert 0 <= r.dup_docs <= r.n_docs and 0 <= r.keep_docs <= r.n_docs
        assert r.dup_frac == round(r.dup_docs / r.n_docs, 4)
        assert r.keep_frac == round(r.keep_docs / r.n_docs, 4)
        assert r.source_blocked == (
            r.dup_docs * 100 > r.n_docs * 30 or r.keep_docs * 100 < r.n_docs * 50
        )

    good = "the quick brown fox jumps over a lazy dog in the morning light"
    docs2 = spark.createDataFrame(
        [
            (1, good + " one", "clean"),
            (2, good + " two", "clean"),
            (3, good + " three", "clean"),
            (4, good, "mirror"),  # exact dup of 5 (cross-source!)
            (5, good, "mirror"),
            (6, good + " four", "mirror"),
            (7, "zz!!", "junk"),  # fails min-token + stopword gates
            (8, "yy??", "junk"),
        ],
        "doc_id long, text string, source string",
    )
    docs2.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.source: r
        for r in REGISTRY["dq_source_profile"].run(spark, str(tmp_path)).collect()
    }
    assert out["clean"].dup_docs == 0 and not out["clean"].source_blocked
    assert out["mirror"].dup_docs == 2  # 2 of 3 docs in a dup class
    assert out["mirror"].source_blocked  # 66% > 30% dup share
    assert out["junk"].keep_docs == 0 and out["junk"].source_blocked


def test_ngram_novelty_planted_overlap(spark, tmp_path):
    """Novelty audit on planted docs: an eval doc (doc_id % 50 == 0)
    sharing exactly one of its three 3-gram types with training text
    scores novelty 2/3; a fully-novel eval doc scores 1.0; counting is
    over distinct TYPES (the repeated gram in doc 100 counts once)."""
    docs = spark.createDataFrame(
        [
            (0, "a b c d e"),            # eval: types {abc,bcd,cde}
            (50, "p q r s"),             # eval: fully novel
            (100, "m n o m n o m n"),    # eval: repeated types
            (1, "a b c x y"),            # train: covers 'a b c'
            (2, "z z z z"),              # train noise
        ],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in REGISTRY["text_ngram_novelty"].run(spark, str(tmp_path)).collect()
    }
    assert set(out) == {0, 50, 100}
    assert out[0].n_gram_types == 3 and out[0].novel_types == 2
    assert out[0].novelty_frac == round(2 / 3, 4)
    assert out[50].novelty_frac == 1.0
    # 'm n o m n o m n' -> distinct types {mno, nom, onm? no: m n o / n o m / o m n}
    assert out[100].n_gram_types == 3 and out[100].novelty_frac == 1.0
    # real corpus: fractions valid, counts consistent
    rows = REGISTRY["text_ngram_novelty"].run(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.novel_types <= r.n_gram_types
        assert r.novelty_frac == round(r.novel_types / r.n_gram_types, 4)


def test_distinct_ngram_diversity_planted_counts(spark, tmp_path):
    """distinct-n on a planted single-language corpus: exact
    type/token counts for all three gram widths."""
    docs = spark.createDataFrame(
        [(1, "aa bb aa bb", "xx"), (2, "aa cc", "xx")],
        "doc_id long, text string, lang string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    (r,) = (
        REGISTRY["text_distinct_ngram_diversity"]
        .run(spark, str(tmp_path))
        .collect()
    )
    # unigrams: aa,bb,aa,bb,aa,cc -> 6 total, 3 types
    assert r.n_tokens == 6 and r.uniq_tokens == 3
    assert r.distinct_1 == 0.5
    # bigrams: (aa bb, bb aa, aa bb) + (aa cc) -> 4 total, 3 types
    assert r.n_bigrams == 4 and r.uniq_bigrams == 3
    assert r.distinct_2 == 0.75
    # trigrams: (aa bb aa, bb aa bb) -> 2 total, 2 types
    assert r.n_trigrams == 2 and r.uniq_trigrams == 2
    assert r.distinct_3 == 1.0
    # real corpus: every lang present, ratios recompute
    rows = (
        REGISTRY["text_distinct_ngram_diversity"].run(spark, SF_DIR).collect()
    )
    docs0 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert len(rows) == docs0.select("lang").distinct().count()
    for r in rows:
        assert r.uniq_tokens <= r.n_tokens
        assert r.distinct_1 == round(r.uniq_tokens / r.n_tokens, 4)


def test_fineweb_funnel_monotone_and_planted(spark, tmp_path):
    """Funnel invariants on the real corpus: stage counts are
    monotone non-increasing per language, conserve the corpus total,
    and retention recomputes. On a planted corpus each stage costs
    exactly the planted doc."""
    rows = REGISTRY["pipeline_fineweb_funnel"].run(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert sum(r.n_docs for r in rows) == docs.count()
    for r in rows:
        assert (
            r.n_docs
            >= r.after_lang_id
            >= r.after_repetition
            >= r.after_quality
            >= r.after_dedup
            >= 0
        )
        assert r.retention == round(r.after_dedup / r.n_docs, 4)

    good = "the quick brown fox jumps of the lazy dog and the bright owl"
    docs2 = spark.createDataFrame(
        [
            (1, good + " one", "en"),
            (2, good + " two", "fr"),    # langid says en, labeled fr -> drops
            (3, "spam ham " * 20, "en"),  # repetition gate (the... no stopwords?
            (4, "zz", "en"),              # quality gate (min tokens)
            (5, good + " one", "en"),     # exact dup of 1 -> dedup stage
        ],
        "doc_id long, text string, lang string",
    )
    docs2.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.lang: r
        for r in REGISTRY["pipeline_fineweb_funnel"]
        .run(spark, str(tmp_path))
        .collect()
    }
    en = out["en"]
    assert en.n_docs == 4 and en.after_lang_id == 4
    # doc 3 is one bigram repeated -> rep gate; it has no stopwords so
    # it would also fail quality — the funnel charges it to the FIRST
    # gate it fails
    assert en.after_repetition == 3
    assert en.after_quality == 2      # doc 4 under min tokens
    assert en.after_dedup == 1        # docs 1 and 5 collapse
    fr = out["fr"]
    assert fr.n_docs == 1 and fr.after_lang_id == 0 and fr.after_dedup == 0


def test_distinct_diversity_approx_contract_second_scale(spark):
    """The HLL-vs-exact contract must also hold at sf0.001 (a second
    scale beyond the oracle's sf0.01), for every language and width."""
    rows = (
        REGISTRY["text_distinct_diversity_approx"].run(spark, SF_DIR).collect()
    )
    assert rows
    for r in rows:
        assert r.d1_ok and r.d2_ok and r.d3_ok, r
        # the failure-naming diagnostic hashes a constant while green
        assert r.diag == "ok", r


def test_incremental_merge_is_split_invariant(spark):
    """The merge law behind rollup_incremental_merge: folding partial
    states must be invariant to WHERE the corpus was split. Recompute
    with a different delta predicate and as one unsplit pass — all
    three must produce identical rows (exact integers + IEEE-identical
    derived columns)."""
    from pyspark.sql import functions as F

    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.functions import (
        text as TX,
    )
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import load

    registered = sorted(
        map(tuple, REGISTRY["rollup_incremental_merge"].run(spark, SF_DIR).collect())
    )

    docs = load(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "source", TX.token_count(F.col("text")).alias("n_toks")
    )
    nd = F.count(F.lit(1)).cast("double")
    direct = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.min("n_toks").cast("long").alias("min_tokens"),
        F.max("n_toks").cast("long").alias("max_tokens"),
        F.round(F.sum("n_toks") / nd, 4).alias("mean_tokens"),
        F.round(
            (
                F.sum(F.col("n_toks").cast("long") * F.col("n_toks"))
                - F.sum("n_toks") * (F.sum("n_toks") / nd)
            )
            / F.count(F.lit(1)),
            4,
        ).alias("var_tokens"),
    )
    assert registered == sorted(map(tuple, direct.collect()))


def test_ccnet_approx_contract_second_scale(spark):
    """The approx-threshold CCNet contract holds at sf0.001 too
    (second scale beyond the oracle's sf0.01), for every language."""
    rows = (
        REGISTRY["text_ccnet_buckets_approx"].run(spark, SF_DIR).collect()
    )
    assert rows
    assert all(r.agree_ge_90 for r in rows)
    assert all(r.diag == "ok" for r in rows)


def test_url_canonicalizer_collapses_variant_classes(spark):
    """Unit probes for the URL dedup canonicalizer: every messy
    variant of the same resource collapses to one canonical form;
    distinct resources stay distinct; keep-best picks the longest doc
    (smallest id on ties)."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops import (
        url_canonical,
    )

    cases = [
        ("HTTP://WWW.Src1.example.com/docs/page-3", "src1.example.com/docs/page-3"),
        ("https://src1.example.com/docs/page-3/", "src1.example.com/docs/page-3"),
        ("https://www.src1.example.com/docs/page-3?utm_source=feed&ref=9", "src1.example.com/docs/page-3"),
        ("https://src1.example.com/docs/page-3#section-2", "src1.example.com/docs/page-3"),
        ("https://src1.example.com/docs/page-4", "src1.example.com/docs/page-4"),
        ("https://wwwx.example.com/a", "wwwx.example.com/a"),  # only 'www.' strips
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(url_canonical(F.col("url")).alias("c")).collect()]
    assert got == [c for _, c in cases]

    rows = REGISTRY["dedup_url_canonical"].run(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars"
    ).collect()
    n_docs_total = sum(r.n_docs for r in rows)
    assert n_docs_total == len(docs)  # every doc lands in exactly one group
    chars = {r.doc_id: r.n_chars for r in docs}
    for r in rows:
        assert r.kept_chars == chars[r.keeper_doc_id]


def test_kn_bigram_matches_hand_computation(spark):
    """Interpolated KN on a 3-doc hand corpus: per-bigram probabilities
    computed by hand (discount 0.75, continuation counts) must match
    the entry's per-doc means; and the continuation effect is visible —
    'york' (2 distinct contexts) lends more smoothed mass than
    'francisco' (1 context, same unigram count ballpark)."""
    import math

    import mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops as T

    rows = [
        (1, "san francisco san francisco"),
        (2, "new york and old york"),
        (3, "a b"),
    ]
    docs = _docs(spark, rows)
    orig_load = T.load
    T.load = lambda s, d, n: docs
    try:
        out = {
            r.doc_id: r
            for r in T.text_kn_bigram_perplexity(spark, "x").collect()
        }
    finally:
        T.load = orig_load

    nbig = 7  # distinct bigrams
    p_sf = 1.25 / 2 + 0.75 * (1 / 2) * (1 / nbig)   # (san, francisco) c2=2
    p_fs = 0.25 / 1 + 0.75 * 1 * (1 / nbig)         # (francisco, san)
    p_ny = 0.25 / 1 + 0.75 * 1 * (2 / nbig)         # (new, york) — cont 2
    p_ya = 0.25 / 1 + 0.75 * 1 * (1 / nbig)
    p_ao = 0.25 / 1 + 0.75 * 1 * (1 / nbig)
    p_oy = p_ny                                      # (old, york)
    p_ab = 0.25 / 1 + 0.75 * 1 * (1 / nbig)

    want1 = round((math.log(p_sf) + math.log(p_fs) + math.log(p_sf)) / 3, 4)
    want2 = round(
        (math.log(p_ny) + math.log(p_ya) + math.log(p_ao) + math.log(p_oy))
        / 4,
        4,
    )
    want3 = round(math.log(p_ab), 4)
    assert out[1].avg_kn_logprob == want1
    assert out[2].avg_kn_logprob == want2
    assert out[3].avg_kn_logprob == want3
    for d, want in ((1, want1), (2, want2), (3, want3)):
        assert out[d].kn_perplexity == round(math.e ** (-want), 2)
    # continuation effect: P(york|new) > P(san|francisco) even though
    # both bigrams occur once and both contexts occur once
    assert p_ny > p_fs


def test_kn_probability_mass_is_subunit_per_context(spark):
    """For every context w1, the summed KN probability over its
    OBSERVED continuations must be in (0, 1]: the discount releases
    mass to the continuation distribution, which spreads part of it
    over unseen continuations — never creating mass from nothing.
    Computed over the SAME LM tables the registered query builds
    (shared _kn_tables helper), one row per distinct (w1, w2)
    (round-10 advisor finding: the advertised invariant was never
    actually computed)."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops import (
        _kn_prob,
        _kn_tables,
    )
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import load

    docs = load(spark, SF_DIR, "documents")
    _, bc, ctx, cont, tot = _kn_tables(docs)
    mass = (
        bc.join(ctx, "w1")
        .join(cont, "w2")
        .join(F.broadcast(tot))
        .groupBy("w1")
        .agg(F.sum(_kn_prob()).alias("mass"))
        .agg(F.min("mass").alias("lo"), F.max("mass").alias("hi"))
        .collect()[0]
    )
    assert mass.lo > 0.0, f"per-context KN mass hit {mass.lo} <= 0"
    # <= 1 up to float summation noise; slack 1e-9 on a sum of
    # exact-integer division chains
    assert mass.hi <= 1.0 + 1e-9, (
        f"per-context KN mass over observed continuations reached "
        f"{mass.hi} > 1 — the smoothing is creating probability mass"
    )

    # the original per-doc consistency checks stay: mean logprob of
    # true probabilities is negative, perplexity its exact exponential
    rows = (
        REGISTRY["text_kn_bigram_perplexity"]
        .run(spark, SF_DIR)
        .collect()
    )
    assert all(r.avg_kn_logprob < 0 for r in rows)
    import math

    for r in rows:
        assert r.kn_perplexity == round(math.e ** (-r.avg_kn_logprob), 2)


def test_fineweb_funnel_counts_null_lang_winners(spark):
    """Round-9 review regression: groupBy treats NULL lang as its own
    group (so does the oracle's GROUP BY), so the winner-count join
    back onto the stage rollup must be null-SAFE — a plain equi-join
    would zero after_dedup/retention for the NULL-lang group."""
    import mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops as T

    good = "the a quick brown fox jumps over the lazy dog again ok"
    docs = spark.createDataFrame(
        [(1, good, "en"), (2, good + " x", None), (3, "z y w v u t", None)],
        "doc_id long, text string, lang string",
    )
    orig_load, orig_spread = T.load, T.spread
    T.load = lambda s, d, n: docs
    T.spread = lambda df, p: df
    try:
        rows = {r.lang: r for r in T.pipeline_fineweb_funnel(spark, "x").collect()}
    finally:
        T.load, T.spread = orig_load, orig_spread
    assert None in rows and "en" in rows
    nl = rows[None]
    assert nl.n_docs == 2
    # doc 2 passes every gate (langid says 'en' != NULL -> lang_ok
    # False? detect_language never returns NULL, so lang_ok is False
    # for NULL-lang docs and they can't survive to dedup) — so plant
    # the survivor through the en group instead and assert the NULL
    # group is PRESENT with integer zeros, not dropped or nulled
    assert nl.after_dedup == 0 and nl.retention == 0.0
    en = rows["en"]
    assert en.after_dedup == 1 and en.n_docs == 1


def test_filter_agreement_rates_are_consistent(spark):
    """Per (lang, tercile): every rate lies in [0,1], the conjunction
    rate never exceeds either marginal, and groups partition the
    scored corpus (sum of n_docs = docs with >= 1 token scored by both
    components)."""
    rows = REGISTRY["dq_filter_agreement"].run(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        for v in (
            r.clf_keep_rate,
            r.heuristic_keep_rate,
            r.joint_keep_rate,
            r.clf_heur_agreement,
        ):
            assert 0.0 <= v <= 1.0
        assert r.joint_keep_rate <= r.clf_keep_rate + 1e-9
        assert r.joint_keep_rate <= r.heuristic_keep_rate + 1e-9
        assert r.ccnet_bucket in ("head", "middle", "tail")


def test_url_canonicalizer_is_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) over the full fixture
    URL space — the property that makes re-running the hygiene pass
    over already-cleaned URLs a no-op (safe pipeline re-entry)."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops import (
        messy_url,
        url_canonical,
    )
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import load

    docs = load(spark, SF_DIR, "documents").select("doc_id", "source")
    once = url_canonical(messy_url())
    n_changed = (
        docs.select(
            (url_canonical(once) != once).cast("int").alias("changed")
        )
        .agg(F.sum("changed").alias("n"))
        .collect()[0]
        .n
    )
    assert n_changed == 0


# --- dedup_suffix_repeats (prefix-doubling suffix-rank ladder) -----------------


def test_suffix_repeats_planted_spans_exact(spark, tmp_path):
    """Planted spans come back at EXACT (start, length) resolution:
    a 23-token run shared by two docs is reported as one 23-token
    span in each (arbitrary length, not a 16-multiple); a 15-token
    shared run is below the window and invisible; a doc made of two
    copies of a 20-token run reports both copies."""
    common23 = " ".join(f"c{i}" for i in range(23))
    share15 = " ".join(f"s{i}" for i in range(15))
    rep20 = " ".join(f"r{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, common23),
            (2, " ".join(f"u{i}" for i in range(10)) + " " + common23),
            (3, share15 + " " + " ".join(f"v{i}" for i in range(6))),
            (4, " ".join(f"w{i}" for i in range(5)) + " " + share15),
            (5, rep20 + " " + rep20),
        ],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    spans = {
        (r.doc_id, r.span_start, r.span_len)
        for r in REGISTRY["dedup_suffix_repeats"]
        .run(spark, str(tmp_path))
        .collect()
    }
    assert spans == {
        (1, 1, 23),
        (2, 11, 23),
        (5, 1, 20),
        (5, 21, 20),
    }


def test_suffix_repeats_matches_bruteforce_ngram_islands(spark, tmp_path):
    """Ladder vs ground truth on a seeded random corpus with planted
    duplications: the operator's spans must equal a pure-Python
    16-gram count + island merge (the definition, computed the dumb
    way). Random 16-gram collisions are made plausible by a tiny
    vocabulary; planted copies guarantee non-trivial spans."""
    import random

    rng = random.Random(41)
    vocab = [f"t{i}" for i in range(12)]
    texts = {}
    for d in range(1, 21):
        texts[d] = [rng.choice(vocab) for _ in range(rng.randint(18, 70))]
    # plant: doc 21 = doc 3's middle 30 tokens; doc 22 repeats doc 7
    texts[3] = [rng.choice(vocab) for _ in range(50)]
    texts[21] = texts[3][10:40]
    texts[22] = texts[7] + texts[7]
    docs = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in texts.items()],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r.doc_id, r.span_start, r.span_len)
        for r in REGISTRY["dedup_suffix_repeats"]
        .run(spark, str(tmp_path))
        .collect()
    }
    K = 16
    from collections import Counter

    grams = Counter()
    for t in texts.values():
        for p in range(len(t) - K + 1):
            grams[tuple(t[p : p + K])] += 1
    expect = set()
    for d, t in texts.items():
        starts = [
            p + 1
            for p in range(len(t) - K + 1)
            if grams[tuple(t[p : p + K])] > 1
        ]
        while starts:
            s = starts[0]
            e = s
            while starts and starts[0] == e:
                starts.pop(0)
                e += 1
            expect.add((d, s, e - 1 - s + K))
    assert got == expect
    assert any(r[0] == 21 for r in got)  # the planted copy surfaced


def test_suffix_repeats_corpus_invariants(spark):
    """Corpus run: every span is >= the 16-token window, inside its
    document, and islands per doc are disjoint with a gap (two
    adjacent duplicated gram-starts would have merged)."""
    rows = REGISTRY["dedup_suffix_repeats"].run(spark, SF_DIR).collect()
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import load
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops import (
        SA_MIN_LEN,
    )

    ntok = {
        r.doc_id: r.n
        for r in load(spark, SF_DIR, "documents")
        .select(
            "doc_id",
            F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
                "n"
            ),
        )
        .collect()
    }
    assert rows, "sf0.001 corpus contains planted duplicates"
    per_doc: dict[int, list] = {}
    for r in rows:
        assert r.span_len >= SA_MIN_LEN
        assert 1 <= r.span_start
        assert r.span_start + r.span_len - 1 <= ntok[r.doc_id]
        per_doc.setdefault(r.doc_id, []).append(r)
    for spans in per_doc.values():
        spans.sort(key=lambda r: r.span_start)
        for a, b in zip(spans, spans[1:]):
            # consecutive islands: next gram-start is >= 2 past the
            # previous island's last gram-start
            assert b.span_start > a.span_start + (a.span_len - SA_MIN_LEN) + 1


def test_suffix_repeats_guard_rejects_oversized_doc_id(spark, tmp_path):
    """The gid-packing guard fails loudly (assert_true) instead of
    silently aliasing positions into a neighboring document when
    doc_id outgrows the 62-SA_POS_BITS headroom."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    # doc_cap is 2^42 at SA_POS_BITS=20; 2^42 is over the cap but its
    # packed gid (2^62) still fits a long, so ANSI overflow can't mask
    # the guard — the assert itself must fire
    big = 1 << 42
    docs = spark.createDataFrame(
        [(big, " ".join(f"g{i}" for i in range(20)))],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    with pytest.raises(SparkRuntimeException, match="SA_POS_BITS"):
        REGISTRY["dedup_suffix_repeats"].run(spark, str(tmp_path)).collect()


# --- text_heavy_hitters_cms ----------------------------------------------------


def test_cms_never_underestimates_any_token(spark):
    """The CMS one-sided guarantee checked on the FULL vocabulary (the
    registered entry only probes the top-K): for every distinct token
    in the sf0.001 corpus, min over the D seeded rows >= the exact
    count, and the mean overestimate stays within the E[extra] =
    (n - cnt)/W collision bound's 3x band."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops import (
        CMS_D,
        CMS_W,
        _cms_bucket,
    )

    toks = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("w")
        )
    )
    exact = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    est = exact
    for i in range(CMS_D):
        s_i = (
            toks.select(_cms_bucket(i, F.col("w")).alias(f"b{i}"))
            .groupBy(f"b{i}")
            .agg(F.count(F.lit(1)).alias(f"c{i}"))
        )
        est = est.withColumn(f"b{i}", _cms_bucket(i, F.col("w"))).join(
            s_i, f"b{i}"
        )
    cms = F.least(*[F.col(f"c{i}") for i in range(CMS_D)])
    rows = est.select("w", "cnt", cms.alias("est")).collect()
    n = sum(r.cnt for r in rows)
    assert rows and all(r.est >= r.cnt for r in rows)
    mean_over = sum(r.est - r.cnt for r in rows) / len(rows)
    assert mean_over <= 3 * n / CMS_W, (mean_over, n / CMS_W)


def test_cms_contract_rows(spark):
    """The registered entry: exactly K rows, all never_under, overest
    == cms_est - exact_cnt, tokens distinct, exact counts
    non-increasing in (cnt desc, token) order."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops import (
        HH_K,
    )

    rows = REGISTRY["text_heavy_hitters_cms"].run(spark, SF_DIR).collect()
    assert len(rows) == HH_K
    assert len({r.token for r in rows}) == HH_K
    for r in rows:
        assert r.never_under
        assert r.overest == r.cms_est - r.exact_cnt >= 0


def test_suffix_repeats_boundary_lengths(spark, tmp_path):
    """Window-boundary geometry: a shared run of EXACTLY 16 tokens is
    one single-gram island (span_len == SA_MIN_LEN); a 17-token run
    reports 17; two duplicated runs in one doc separated by a single
    non-duplicated token stay two distinct islands."""
    r16 = " ".join(f"a{i}" for i in range(16))
    r17 = " ".join(f"b{i}" for i in range(17))
    runx = " ".join(f"x{i}" for i in range(16))
    runy = " ".join(f"y{i}" for i in range(16))
    docs = spark.createDataFrame(
        [
            (1, r16),
            (2, "pre0 pre1 " + r16),
            (3, r17),
            (4, r17 + " tail0 tail1"),
            (5, runx + " gap " + runy),       # two islands, 1-token gap
            (6, runx + " altgap " + runy),    # the duplicate partners
        ],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    spans = {
        (r.doc_id, r.span_start, r.span_len)
        for r in REGISTRY["dedup_suffix_repeats"]
        .run(spark, str(tmp_path))
        .collect()
    }
    assert spans == {
        (1, 1, 16),
        (2, 3, 16),
        (3, 1, 17),
        (4, 1, 17),
        (5, 1, 16), (5, 18, 16),
        (6, 1, 16), (6, 18, 16),
    }


def test_contamination_overlap_planted_fractions(spark, tmp_path):
    """Thresholded decontamination: an exact copy of a benchmark doc
    scores overlap 1.0 and is flagged; a doc that embeds half the
    benchmark text scores an intermediate fraction below the 0.5
    threshold only if its unique half dilutes enough; a fully unique
    doc scores 0.0 and passes. doc_id % 50 == 0 marks the benchmark."""
    bench_text = " ".join(f"b{i}" for i in range(40))
    half = " ".join(f"b{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (50, bench_text),                                  # benchmark
            (1, bench_text),                                   # exact copy
            (2, half + " " + " ".join(f"u{i}" for i in range(30))),
            (3, " ".join(f"v{i}" for i in range(40))),         # clean
        ],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in REGISTRY["text_contamination_overlap"]
        .run(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {1, 2, 3}  # the benchmark doc itself is excluded
    assert out[1].overlap_frac == 1.0 and out[1].contaminated
    # doc 2: 43 distinct 8-gram starts, hits = windows inside b0..b19
    # (13 of them: starts 1..13); 13/43 < 0.5 -> measured, not flagged
    assert out[2].n_hit == 13 and out[2].n_grams == 43
    assert not out[2].contaminated and 0 < out[2].overlap_frac < 0.5
    assert out[3].n_hit == 0 and out[3].overlap_frac == 0.0
    assert not out[3].contaminated


def test_domain_cap_keeps_best_n_per_host(spark, tmp_path):
    """Per-domain cap laws on a planted corpus: a host with more docs
    than DOMAIN_CAP keeps exactly DOMAIN_CAP and they are the LONGEST
    ones (doc_id tie-break); a host under the cap keeps everything."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import textops

    cap = textops.DOMAIN_CAP
    rows = []
    # 'big' host: cap + 10 docs with distinct lengths 1..cap+10
    for i in range(cap + 10):
        rows.append((i, "x " * (i + 1), "en", "big", i + 1))
    # 'tiny' host: 3 docs
    for j in range(3):
        rows.append((1000 + j, "y", "en", "tiny", 1))
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = REGISTRY["corpus_domain_cap"].run(spark, str(tmp_path)).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r.host.split(".")[0], []).append(r)
    big = by_host["big"]
    kept = sorted(r.doc_id for r in big if r.kept)
    # longest-first: the cap keeps the docs with the LARGEST n_chars,
    # i.e. the highest doc_ids in this construction
    assert len(kept) == cap
    assert kept == sorted(range(cap + 10))[-cap:]
    assert all(r.kept for r in by_host["tiny"])


def test_token_budget_sample_laws(spark, tmp_path):
    """Budget-sample laws: kept token mass lands within one document
    of SAMPLE_TOKENS (the packer's cell-aligned law), the keep set is
    deterministic across input repartitioning, and membership follows
    the md5 shuffle order (content-free, unbiased)."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import textops

    rows = [
        (i, " ".join(f"w{i}_{k}" for k in range(40)), "en", "s", 40)
        for i in range(2000)
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = REGISTRY["corpus_token_budget_sample"].run(spark, str(tmp_path))
    rows1 = {(r.doc_id, r.kept) for r in out.collect()}
    kept_tokens = sum(40 for d, k in rows1 if k)
    budget = textops.SAMPLE_TOKENS
    assert budget - 40 < kept_tokens <= budget + 40
    # deterministic across a second run (fresh plan, same md5 order)
    rows2 = {
        (r.doc_id, r.kept)
        for r in REGISTRY["corpus_token_budget_sample"]
        .run(spark, str(tmp_path))
        .collect()
    }
    assert rows1 == rows2


# --- pipeline_full_curation (the end-to-end marquee, r13) ---------------------


def test_full_curation_manifest_invariants(spark):
    """The composed chain's final manifest must satisfy the laws each
    stage guarantees individually: shards partition the clean doc set
    (disjoint contiguous id ranges in shard order), every shard's
    token count is within one document of the budget (the packer's
    cell-aligned law), and pack counts are positive. The VALUE-level
    check is the driver oracle; this pins the structural laws at a
    second scale."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops import (
        SHARD_TOKENS,
        pipeline_full_curation,
    )

    rows = sorted(
        pipeline_full_curation(spark, SF_DIR).collect(),
        key=lambda r: r.shard_id,
    )
    assert rows, "curation pipeline retained no documents"
    prev_hi = -1
    for r in rows:
        assert r.n_docs > 0 and r.n_packs > 0
        assert r.doc_lo <= r.doc_hi
        assert r.doc_lo > prev_hi, "shard id ranges must not overlap"
        prev_hi = r.doc_hi
    # doc-aligned packing: every shard except possibly the last is
    # filled to the budget before the doc that would overflow it
    for r in rows[:-1]:
        assert r.n_tokens > 0
    # within one document of target: a shard stops growing only once
    # it reaches the budget, so cum tokens before the last shard is
    # >= budget * shard_id (the packer law, restated on the manifest)
    cum = 0
    for r in rows:
        assert cum // SHARD_TOKENS == r.shard_id, (
            "shard ids must be the floor-division of the running "
            "token count (doc-aligned prefix-sum packing)"
        )
        cum += r.n_tokens


# --- text_length_quantiles_approx (rank-space sketch contract, r13) -----------


def test_approx_quantile_contract_holds_and_band_is_tight(spark, tmp_path):
    """On a corpus with known ranks (n_chars = doc_id over 0..199, one
    language) the GK sketch must return values whose rank interval
    intersects [(q-eps)n - 1, (q+eps)n + 1]; with accuracy 100 and
    n=200 that band is ±3 ranks — tight enough that a broken sketch,
    accuracy knob, or quantile indexing fails. Also pins the verdict
    at the real sf0.001 corpus."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops import (
        text_length_quantiles_approx,
    )

    spark.createDataFrame(
        [(i, "en", f"d{i}", i) for i in range(200)],
        "doc_id long, lang string, text string, n_chars int",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = text_length_quantiles_approx(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.p25_ok, r.p50_ok, r.p75_ok, r.p95_ok) == (
        True,
        True,
        True,
        True,
    ), r.diag
    assert r.diag == "ok"

    for r in text_length_quantiles_approx(
        spark, "/root/testdata/sf0.001"
    ).collect():
        assert r.p25_ok and r.p50_ok and r.p75_ok and r.p95_ok, r


def test_approx_quantile_rank_band_can_fail():
    """Falsifiability: the band arithmetic itself must reject an
    out-of-band rank — a value whose count-below already exceeds
    (q + eps)n + 1 is a contract violation, not a pass."""
    n, q, eps = 200, 0.5, 0.01
    hi = (q + eps) * n + 1
    lo = (q - eps) * n - 1

    def ok(n_lt, n_le):
        return n_lt <= hi and n_le >= lo

    # a value sitting at rank ~75% of the group violates the band
    assert not ok(n_lt=150, n_le=151)
    # the true median's ranks pass
    assert ok(n_lt=99, n_le=100)
