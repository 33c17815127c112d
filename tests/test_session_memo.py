"""The session cache bound: every cached frame in ``queries/`` lives in
``queries.session_memo``, which holds at most one corpus per kind.

Runs the memo-owning entries and the ones whose intermediates the memo
caches over two copies of the same corpus, in the order A, A, B, and
counts the session's persistent RDDs: a repeat on A must reuse what A
cached, and B must replace A's blocks rather than add to them.
"""

from __future__ import annotations

import shutil

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"

#: every entry that reads a session-memoized frame or list
MEMO_ENTRIES = [
    "dedup_ngram_jaccard",  # shingles, capped_shingles
    "dedup_lsh_recall",  # jaccard_pairs, minhash_bands
    "text_langid_agreement",  # langid_learned
    "text_bpe_apply",  # bpe_merges, bpe_words
    "text_bpe_train",  # bpe_words
    "dedup_image_phash",  # _phash_synth
    "dedup_image_dhash",  # _dhash_synth
    "dedup_anchor_containment",  # anchor_shingles, anchor_postings
    "dedup_minhash_lsh",  # minhash_bands
    "dedup_simhash",  # simhash
    "text_contamination_check",  # shingles
    "pipeline_wet_curation",  # wet_hosts, wet_url_keepers
]


def _persistent(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _run_all(spark, sf_dir: str) -> dict[str, list]:
    return {n: sorted(REGISTRY[n].run(spark, sf_dir).collect()) for n in MEMO_ENTRIES}


def test_session_holds_one_corpus_per_kind(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    shutil.copytree(SF, a)
    shutil.copytree(SF, b)
    # start from an empty block store so only these entries' frames count
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()

    first = _run_all(spark, a)
    after_a = _persistent(spark)
    assert after_a > 0
    assert _run_all(spark, a) == first
    assert _persistent(spark) == after_a, "a repeat on the same corpus cached again"
    # B is a byte copy of A, so every result must match A's
    assert _run_all(spark, b) == first
    assert _persistent(spark) == after_a, "a new corpus added blocks instead of replacing"


def test_stopped_session_entry_dropped_without_py4j(spark):
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark import queries

    stale = spark.range(1)

    def dead_context(*_a, **_k):
        raise AssertionError("unpersist called on a stopped session's frame")

    stale.unpersist = dead_context
    key = ("app-of-a-stopped-session", "shingles", SF)
    queries._SESSION_MEMO[key] = stale
    built = queries.session_memo(spark, "test_kind", SF, lambda: [1, 2])
    assert built == [1, 2]
    assert key not in queries._SESSION_MEMO
    # a non-DataFrame value is returned as built and reused as is
    assert queries.session_memo(spark, "test_kind", SF, lambda: [3]) is built
    queries.session_memo(spark, "test_kind", "/elsewhere", lambda: None)
    assert (spark.sparkContext.applicationId, "test_kind", SF) not in queries._SESSION_MEMO


def test_rewritten_input_is_not_served_from_an_earlier_call(spark):
    """``pipeline_wet_curation`` rewrites its WET files on every call:
    with the session's blocks dropped in between, a repeat call must
    read the current files, not a frame kept over the deleted ones."""
    run = REGISTRY["pipeline_wet_curation"].run
    first = sorted(run(spark, SF).collect())
    spark.catalog.clearCache()
    assert sorted(run(spark, SF).collect()) == first
