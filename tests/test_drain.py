from pyspark.sql import functions as F

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.operators import drain
from mgl870_tp02_project_01_hadoopmapreducelogs_spark.sources import logs


def test_miner_merges_similar_lines():
    m = drain.DrainMiner(depth=4, sim_th=0.4)
    m.add("send block blk_1 to node alpha")
    m.add("send block blk_2 to node beta")
    m.add("receive ack from node alpha")
    templates = dict(m.templates())
    # the two send lines merge into one generalized template
    assert "send block <*> to node <*>" in templates
    assert templates["send block <*> to node <*>"] == 2
    assert len(templates) == 2


def test_miner_respects_similarity_threshold():
    m = drain.DrainMiner(depth=4, sim_th=0.8)
    m.add("send block blk_1 to node alpha")
    m.add("wipe cache tmp_9 at node alpha")  # same length, <80% similar
    assert len(m.templates()) == 2


def test_match_does_not_mutate_state():
    m = drain.DrainMiner()
    m.add("job started with id 5")
    before = m.templates()
    assert m.match("job started with id 9") == 0
    assert m.match("completely different structure with many extra tokens") is None
    assert m.templates() == before


def test_miner_enforces_max_clusters():
    # messages mined into distinct leaves (distinct first tokens, no
    # digits so no branch masking) so none is similar to any other
    m = drain.DrainMiner(depth=4, sim_th=0.4, max_clusters=10)
    for i in range(50):
        m.add(f"tok{'x' * (i % 7)}_{chr(97 + i % 26)} unique head word number {'y' * i}")
    # cap holds: at most max_clusters regular clusters + 1 catch-all
    assert len(m.templates()) <= 11
    # every line is accounted for
    assert sum(s for _, s in m.templates()) == 50


def test_miner_scales_linearly_in_cluster_count():
    # 10k distinct templates (unique leaves, nothing merges): quadratic
    # clusters.index() made this minutes; the O(1) idx makes it seconds
    import time

    def alpha(i: int) -> str:  # digit-free so branch tokens stay distinct
        s = ""
        while True:
            s += chr(97 + i % 26)
            i //= 26
            if not i:
                return s

    m = drain.DrainMiner(depth=4, sim_th=0.4, max_clusters=20000)
    t0 = time.time()
    for i in range(10000):
        m.add(f"head{alpha(i)} body{alpha(i)} tail{alpha(i)}")
    elapsed = time.time() - t0
    assert len(m.templates()) == 10000
    assert elapsed < 10.0, f"10k distinct adds took {elapsed:.1f}s"


def test_real_corpus_parity(spark, monkeypatch):
    """T1c on the reference's actual corpus (read-only input, nothing
    copied into the repo): /root/reference/hadoop_logs.txt, 1,282 lines.

    The reference's committed catalog for this exact sample is
    event_matrix.csv: 100 clusters, Σsize 12,850 ≈ 10 persisted-state
    runs × 1,282 lines (the 707/1140-cluster exec CSVs are from the
    full multi-container corpus, Σsize 1.98M/6.7M — different input).
    With the reference's own masking set (timestamp/level/appattempt,
    process_logs_v10.py:24-37) our Drain-family miner must land in a
    band around that 100-cluster observable and conserve every line."""
    import os

    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.functions import (
        preprocess as P,
    )

    corpus = "/root/reference/hadoop_logs.txt"
    if not os.path.exists(corpus):
        import pytest

        pytest.skip("reference corpus not present")
    ref_rules = [
        ("timestamp", P.TS_ANY),
        ("level", r"(INFO|WARN|ERROR|DEBUG)"),
        ("appattempt", P.APPATTEMPT),
    ]
    monkeypatch.setattr(P, "MASK_RULES", ref_rules)
    raw = spark.read.text(corpus)
    parsed = P.mask(raw.select(P.preprocess(F.col("value")).alias("message")))
    catalog = drain.fit_distributed(parsed)
    rows = catalog.collect()
    # every line lands in exactly one cluster
    assert sum(r.size for r in rows) == 1282
    # band around the reference's 100-cluster observable (measured: 114
    # after the round-5 drain3-fidelity pass; the RAW-line replication
    # in test_golden_reference.py is byte-exact at 100 — masking only
    # coarsens/splits around that)
    assert 60 <= len(rows) <= 200, f"{len(rows)} clusters"


def test_distributed_fit_and_match_invariants(spark, log_dir):
    parsed = logs.parse_lines(logs.read_log_dir(spark, log_dir)).cache()
    catalog = drain.fit_distributed(parsed)
    rows = catalog.collect()
    n_lines = parsed.count()
    # Σ size = line count survives the distinct reduction + driver fit
    assert sum(r.size for r in rows) == n_lines
    # ids dense 1..k
    assert sorted(r.cluster_id for r in rows) == list(range(1, len(rows) + 1))
    # drain generalizes at least as aggressively as exact dedup
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.operators import mining

    assert len(rows) <= mining.mine_exact(parsed).count()

    matched = drain.match_distributed(parsed, catalog)
    assert matched.filter(F.col("cluster_id").isNull()).count() == 0
    assert matched.count() == n_lines


def test_fit_is_independent_of_partitioning_and_order(spark, log_dir):
    """One fit path: the catalog is a function of the masked messages
    alone, so one partition, seven partitions and the lines in reverse
    order give the same rows."""
    parsed = logs.parse_lines(logs.read_log_dir(spark, log_dir)).select("masked")
    lines = [r.masked for r in parsed.collect()]
    backwards = spark.createDataFrame([(m,) for m in reversed(lines)], "masked string")

    def rows(df):
        return sorted(tuple(r) for r in drain.fit_distributed(df).collect())

    want = rows(parsed.repartition(1))
    assert len(want) > 1
    assert rows(parsed.repartition(7)) == want
    assert rows(backwards) == want
