"""Iterative connected components (operators/graph.py): the pair→group
collapse every near-dup dedup decision needs."""

import pytest

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.operators import graph


def test_components_multi_hop_chain(spark):
    # chain 1-2-3-4 (diameter 3), pair 10-11, singleton edge 20-21
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (21, 20)],
        "doc_a long, doc_b long",
    )
    comp = {
        r.doc_id: r.component
        for r in graph.connected_components(edges).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}
    groups = {
        r.component: (r.keeper, r.n_docs)
        for r in graph.dedup_groups(edges).collect()
    }
    assert groups == {1: (1, 4), 10: (10, 2), 20: (20, 2)}


def test_components_raise_when_iteration_budget_too_small(spark, monkeypatch):
    # a path of length 6 cannot converge in 1 round; force the
    # distributed loop (small edge lists normally take the driver
    # union-find, which has no iteration budget)
    monkeypatch.setattr(graph, "DRIVER_CC_CAP", 0)
    monkeypatch.setattr(graph, "CC_MAX_ITER", 1)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(edges)


def test_components_distributed_path_matches_driver_path(spark, monkeypatch):
    # same multi-hop graph through both paths → identical components
    rows = [(i, i + 1) for i in range(6)] + [(10, 20), (20, 30), (50, 40)]
    edges = spark.createDataFrame(rows, "doc_a long, doc_b long")
    fast = {
        (r.doc_id, r.component)
        for r in graph.connected_components(edges).collect()
    }
    monkeypatch.setattr(graph, "DRIVER_CC_CAP", 0)
    dist = {
        (r.doc_id, r.component)
        for r in graph.connected_components(edges).collect()
    }
    assert fast == dist


def test_distributed_cc_converges_on_long_chain(spark, monkeypatch):
    """A 3000-vertex chain has diameter 3000: plain min-propagation
    would need 3000 rounds, pointer doubling O(log n). Force the
    distributed path and require convergence within
    ``CC_MAX_ITER``."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.operators import graph

    monkeypatch.setattr(graph, "DRIVER_CC_CAP", 0)
    n = 3000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    comp = graph.connected_components(edges)
    rows = comp.collect()
    assert len(rows) == n + 1
    assert {r.component for r in rows} == {0}


def test_pagerank_planted_clique_and_isolated(spark, tmp_path):
    """Integer PageRank laws on a planted graph: three exact copies
    form a Jaccard-1.0 clique whose members hold equal rank strictly
    above the teleport floor; isolated docs hold exactly the teleport
    rank; total scaled mass never exceeds the 1e9 budget (flooring
    and dangling mass can only leak downward); two runs are
    bit-identical."""
    from pyspark.sql import functions as F

    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import (
        REGISTRY,
    )
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.textops import (
        PR_D_DEN,
        PR_D_NUM,
        PR_SCALE,
    )

    clique = "alpha beta gamma delta epsilon zeta eta theta iota"
    docs = spark.createDataFrame(
        [
            (1, clique),
            (2, clique),
            (3, clique),
            (4, "one two three four five six seven eight nine"),
            (5, "uno dos tres cuatro cinco seis siete ocho nueve"),
        ],
        "doc_id long, text string",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    run = REGISTRY["graph_pagerank_docs"].run
    r1 = {r.doc_id: r.rank_e9 for r in run(spark, str(tmp_path)).collect()}
    r2 = {r.doc_id: r.rank_e9 for r in run(spark, str(tmp_path)).collect()}
    assert r1 == r2  # bit-identical across runs
    tele = (PR_D_DEN - PR_D_NUM) * PR_SCALE // (PR_D_DEN * 5)
    assert r1[4] == tele and r1[5] == tele  # isolated: teleport only
    assert r1[1] == r1[2] == r1[3] > tele   # symmetric clique, enriched
    assert sum(r1.values()) <= PR_SCALE     # mass only leaks down
