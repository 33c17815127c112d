from pyspark.sql import functions as F

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.functions import text as TX


def _vals(spark, rows, col_expr):
    df = spark.createDataFrame([(r,) for r in rows], ["text"])
    return [r.out for r in df.select(col_expr.alias("out")).collect()]


def test_token_counts(spark):
    out = _vals(spark, ["one two  three", "solo"], TX.token_count(F.col("text")))
    assert out == [3, 1]
    out = _vals(spark, ["ab 12, cd!"], TX.bpe_ish_token_count(F.col("text")))
    assert out == [5]  # ab, 12, ',', cd, '!'


def test_tokenizers_match_duckdb_whitespace_split(spark):
    """TX.words / TX.tokens equal the oracles' DuckDB spellings on
    whitespace edge cases: empty and all-space text, runs, tabs and
    newlines that trim (spaces only) leaves in place, NBSP, non-ASCII
    case folding."""
    import duckdb

    cases = ["", " ", "  a  b  ", "A\tB", "\ta b", "a b\n", "a\u00a0b",
             "x  \t y", "É Ü", "DOG dog"]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], ["i", "text"])
    got = df.select(
        "i", TX.words("text").alias("w"), TX.tokens("text").alias("t")
    ).orderBy("i").collect()
    con = duckdb.connect()
    for r, case in zip(got, cases):
        want_w, want_t = con.execute(
            r"SELECT regexp_split_to_array(lower(trim(x)), '\s+'),"
            r" regexp_split_to_array(trim(x), '\s+') FROM (SELECT ? AS x)",
            [case],
        ).fetchone()
        assert (list(r.w), list(r.t)) == (want_w, want_t), repr(case)


def test_quality_ratios(spark):
    punct = _vals(spark, ["abcd!!!!!!", "clean text here"], TX.punct_ratio(F.col("text")))
    assert punct[0] == 0.6 and punct[1] == 0.0
    stop = _vals(
        spark,
        ["the cat sat on the mat", "xyzzy qwerty"],
        TX.stopword_ratio(F.col("text"), "en"),
    )
    assert stop[0] > 0.3 and stop[1] == 0.0


def test_detect_language(spark):
    samples = {
        "en": "the cat is on the mat and it is happy",
        "fr": "le chat est sur le tapis et il est content",
        "es": "el gato es feliz y la casa es grande",
        "de": "der hund und die katze sind ein team",
        "zh": "我 有 一 只 猫 它 是 我 的 朋友",
    }
    df = spark.createDataFrame(
        [(lang, txt) for lang, txt in samples.items()], ["lang", "text"]
    )
    out = df.select("lang", TX.detect_language(F.col("text")).alias("det")).collect()
    for r in out:
        assert r.det == r.lang, f"{r.lang} detected as {r.det}"


def test_fingerprint_invariant_to_case_and_punct(spark):
    fp = _vals(
        spark,
        ["Hello,   World!", "hello world", "different doc"],
        TX.fingerprint(F.col("text")),
    )
    assert fp[0] == fp[1] != fp[2]


def test_word_shingles(spark):
    out = _vals(spark, ["a b c d", "x y"], TX.word_shingles(F.col("text"), k=3))
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == ["x y"]  # shorter than k → whole text


def test_quality_score_bounds(spark):
    out = _vals(
        spark,
        ["the quick brown fox jumps over the lazy dog and runs away fast", "!!"],
        TX.quality_score(F.col("text")),
    )
    assert out[0] == 1.0
    assert out[1] < 0.5


def test_simhash_near_pairs_probing(spark):
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import textops

    base = 0b1010_1100_0011_0101_1010_1100_0011_0101
    hashes = spark.createDataFrame(
        [
            (1, base),                 # anchor
            (2, base),                 # exact dup (hamming 0)
            (3, base ^ (1 << 7)),      # 1-bit flip
            (4, base ^ (1 << 3) ^ (1 << 29)),  # 2-bit flip
            (5, base ^ 0b111),         # 3 bits away -> excluded
            (6, 0),                    # far away
        ],
        "doc_id long, simhash long",
    )
    out = {
        (r.doc_a, r.doc_b): r.hamming
        for r in textops.simhash_near_pairs(hashes, max_hamming=2).collect()
    }
    assert out[(1, 2)] == 0
    assert out[(1, 3)] == 1
    assert out[(2, 3)] == 1
    assert out[(1, 4)] == 2
    assert (1, 5) not in out and (1, 6) not in out
    # doc 3 vs 4 is hamming 3 -> must not appear even though both pair with 1
    assert (3, 4) not in out


def test_simhash_fingerprint_deterministic(spark):
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import textops

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally different words here")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.simhash for r in textops.simhash_fingerprints(docs).collect()}
    assert rows[1] == rows[2]
    assert 0 <= rows[1] < 2 ** 32
    assert rows[1] != rows[3]


def test_anchor_containment_catches_embedded_doc(spark, tmp_path):
    """A short doc embedded verbatim in a long one: symmetric Jaccard
    dilutes to ~|B|/|A| (below its 0.5 gate) while anchor containment
    |A∩B|/min sees ~1.0. Content-defined sampling must keep the shared
    span's anchors identical in both docs."""
    import random

    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import textops

    rng = random.Random(5)
    vocab = [f"w{i:03d}" for i in range(400)]
    long_doc = " ".join(rng.choice(vocab) for _ in range(240))
    span = " ".join(long_doc.split()[100:140])  # 40-token contiguous span
    short_doc = span + " zz1 zz2"
    other = " ".join(rng.choice(vocab) for _ in range(120))
    df = spark.createDataFrame(
        [(0, long_doc, "en", "s", len(long_doc)),
         (1, short_doc, "en", "s", len(short_doc)),
         (2, other, "en", "s", len(other))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = textops.dedup_anchor_containment(spark, str(tmp_path))
    pairs = {(r.doc_a, r.doc_b): r.containment for r in out.collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.9
    assert not any(2 in p for p in pairs)
    jac = {
        (r.doc_a, r.doc_b)
        for r in textops.dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    }
    assert (0, 1) not in jac  # the case symmetric Jaccard misses


def test_char_entropy_bounds_and_known_values(spark, tmp_path):
    """Entropy laws on constructed docs: a single repeated character
    has H=0; a uniform 4-char alphabet has H=2 bits exactly; every doc
    satisfies 0 <= H <= log2(distinct chars)."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import textops

    df = spark.createDataFrame(
        [(0, "aaaaaaaa", "en", "s", 8),
         (1, "abcdabcdabcdabcd", "en", "s", 16),
         (2, "the quick brown fox", "en", "s", 19)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r.entropy_bits
           for r in textops.text_char_entropy(spark, str(tmp_path)).collect()}
    assert out[0] == 0.0
    assert out[1] == 2.0
    import math
    assert 0.0 <= out[2] <= math.log2(len(set("the quick brown fox"))) + 1e-9


def test_bpe_merge_topk_counts_weighted_pairs(spark, tmp_path):
    """The top merge candidate must be the frequency-weighted most
    common adjacent character pair: 'ab' appears in every 'abab' token
    (3 words x 3 pairs... weighted by word count) and beats pairs from
    the rarer word."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import textops

    df = spark.createDataFrame(
        [(0, "abab abab abab", "en", "s", 14),
         (1, "xyz", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    rows = textops.text_bpe_merge_topk(spark, str(tmp_path)).collect()
    # 'abab' x3: per word pairs a-b, b-a, a-b -> 'a b' weight 2*3=6,
    # 'b a' 1*3=3; 'xyz': 'x y' 1, 'y z' 1
    got = {r.pair: r.n for r in rows}
    assert rows[0].pair == "a b" and rows[0].n == 6
    assert got["b a"] == 3 and got["x y"] == 1


def test_bpe_train_applies_merges_greedily(spark, tmp_path):
    """Round 2 must operate on the MERGED symbol stream: with 'aaab'
    dominant, round 1 merges (a,a) greedily left-to-right -> [aa,a,b],
    so round 2's candidates are (aa,a) and (a,b) — NOT a second (a,a)
    (which would prove the merge was never applied). Rarer 'cd' breaks
    ties away from degenerate corpora."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import textops

    df = spark.createDataFrame(
        [(0, "aaab aaab aaab aaab", "en", "s", 19),
         (1, "cd cd", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    rows = textops.text_bpe_train(spark, str(tmp_path)).collect()
    # the tiny vocabulary exhausts after 4 merges: both engines stop
    assert [r.rank for r in rows] == [1, 2, 3, 4]
    # round 1: 'aaab' has pairs (a,a)x2, (a,b) -> 'a a' weight 8 wins
    assert rows[0].pair == "a a" and rows[0].n == 8
    # round 2: stream is [aa,a,b] -> candidates 'aa a' (4), 'a b' (4),
    # 'c d' (2); tie broken lexicographically -> 'a b'
    assert rows[1].pair == "a b" and rows[1].n == 4
    # rounds 3-4 drain what's left: [aa,ab] -> 'aa ab', then 'c d'
    assert rows[2].pair == "aa ab" and rows[2].n == 4
    assert rows[3].pair == "c d" and rows[3].n == 2
    # greedy application means 'a a' can never reappear
    assert all(r.pair != "a a" for r in rows[1:])
    # merge-candidate counts are monotone non-increasing across rounds
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_jaccard_pair_budget_exact_verification(spark, tmp_path):
    """Pair-budget laws on a planted corpus where one shingle's df
    (24) exceeds PAIR_DOC_BUDGET (16): (1) a true near-dup pair is
    still discovered through its low-df shingles and its Jaccard is
    EXACT (verification counts all shared shingles, not the sample);
    (2) budgeted pairs are a subset of full-expansion pairs, so the
    audit's n_hit always equals n_budgeted; (3) discovery is
    deterministic across repartitioned input."""
    import random

    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import textops

    assert textops.PAIR_DOC_BUDGET < textops.SHINGLE_DF_CAP
    rng = random.Random(7)
    vocab = [f"v{i:03d}" for i in range(500)]
    # one hot 3-gram shared by 24 otherwise-unrelated docs: df=24 is
    # over the budget (16) but under the df-cap (50)
    hot = "common shared phrase"
    rows = []
    for d in range(24):
        filler = " ".join(rng.choice(vocab) for _ in range(40))
        rows.append((d, f"{hot} {filler}"))
    # a planted near-dup pair sharing many low-df shingles
    base = " ".join(rng.choice(vocab) for _ in range(60))
    rows.append((100, base))
    rows.append((101, base + " tailword"))
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))

    out = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in textops.dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    }
    assert (100, 101) in out
    # exact Jaccard: 58 shared shingles, 58 and 59 per doc -> 58/59
    assert abs(out[(100, 101)] - round(58 / 59, 4)) < 1e-9

    audit = textops.dedup_jaccard_budget_recall(spark, str(tmp_path)).collect()[0]
    assert audit.n_hit == audit.n_budgeted  # budgeted ⊆ full
    assert audit.n_budgeted <= audit.n_full
    assert audit.pair_recall >= textops.PAIR_BUDGET_RECALL_FLOOR

    # determinism across input partitioning (md5 sample, not ordering)
    out2 = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in textops.dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    }
    assert out == out2


def test_fineweb_funnel_learned_twin_matches_heuristic_report(spark):
    # the learned detector agrees with its teacher 1.0 on this corpus
    # (text_langid_agreement), so the two funnels must emit IDENTICAL
    # reports — a weights or serving regression breaks the composed
    # pipeline here, not just the standalone entry
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import textops

    sf = "/root/testdata/sf0.001"
    heur = sorted(map(tuple, textops.pipeline_fineweb_funnel(spark, sf).collect()))
    learned = sorted(
        map(tuple, textops.pipeline_fineweb_funnel_learned(spark, sf).collect())
    )
    assert learned == heur


def test_bloom_prescreen_report_equals_exact_anti_join(spark):
    # a Bloom filter has no false negatives, so the prescreened report
    # must equal the plain anti-join byte for byte — a salt drift,
    # probe-arity mismatch, or bitset build bug drops/adds keeper rows
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import textops

    sf = "/root/testdata/sf0.001"
    exact = sorted(
        map(tuple, textops.dedup_incremental_index(spark, sf).collect())
    )
    bloom = sorted(
        map(tuple, textops.dedup_incremental_bloom(spark, sf).collect())
    )
    assert bloom == exact
    assert len(bloom) > 0


def test_posting_pairs_emit_each_unordered_pair_once(spark):
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops import (
        _posting_pairs,
    )

    lists = spark.createDataFrame(
        [([1, 4, 7, 9],), ([2],), ([],), ([3, 5],)], "docs array<bigint>"
    )
    got = sorted(map(tuple, _posting_pairs(lists).collect()))
    assert got == [(1, 4), (1, 7), (1, 9), (3, 5), (4, 7), (4, 9), (7, 9)]
    assert _posting_pairs(lists.filter(F.size("docs") < 2)).count() == 0


def test_hashed_gram_expr_skips_short_docs_and_matches_equal_windows(spark):
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops import (
        hashed_gram_expr,
        token_hashes,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x b c d y"), (3, "a b"), (4, "")],
        "doc_id long, text string",
    ).select("doc_id", F.split("text", " ").alias("t"))
    grams = token_hashes(docs, 3, "doc_id").select(
        "doc_id", F.posexplode(hashed_gram_expr(3)).alias("p", "g")
    )
    fps = {(r.doc_id, r.p): r.g for r in grams.collect()}
    # docs 3 and 4 are shorter than k: no gram, and no descending
    # sequence(1, n - k + 1) reaches the slice
    assert sorted(fps) == [(1, 0), (1, 1), (2, 0), (2, 1), (2, 2)]
    # "b c d" in both docs: one fingerprint; distinct windows differ
    assert fps[1, 1] == fps[2, 1]
    assert len(set(fps.values())) == 4
