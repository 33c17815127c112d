"""The bit-parity contract behind every vector oracle, property-tested.

All vector queries argue the same theorem: for integer-scaled
embeddings (|x| <= 1e6, dim <= 64), dot products and squared norms are
integers below 2^53, so float64 represents them EXACTLY under any
accumulation order — numpy/BLAS (the Arrow kernels), Catalyst's
sequential aggregate fold, and DuckDB's list_sum all produce the same
double, and a cosine formed with the one shared op order (sqrt,
multiply, divide, 0.0 on zero denominator) is bit-identical across all
three. Hypothesis hammers the numpy-vs-sequential half of that claim
directly (no Spark session needed — Catalyst and DuckDB are both
sequential folds); a fixed-seed Spark test covers the
anchor_cosine_scan plumbing against the interpreted expression chain
it replaced."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.functions import vectors as V

#: |x| <= 1e6, dim <= 64 -> products <= 1e12, sums < 6.4e13 << 2^53.
#: The real embeddings are floor(x*1000) with |x| <= ~1, i.e. far
#: smaller; the strategy stresses the full exactness envelope.
_ints = st.integers(min_value=-1_000_000, max_value=1_000_000)
_vec_sets = st.integers(min_value=1, max_value=64).flatmap(
    lambda d: st.lists(
        st.lists(_ints, min_size=d, max_size=d), min_size=2, max_size=6
    )
)


def _seq_cos(a, b):
    """Sequential left-to-right fold — the op order of BOTH Catalyst's
    F.aggregate and DuckDB's list_sum(list_transform(...)), with the
    shared final op order (sqrt, multiply, divide)."""
    dot = 0.0
    for x, y in zip(a, b):
        dot += float(x * y)
    na = 0.0
    for x in a:
        na += float(x * x)
    nb = 0.0
    for y in b:
        nb += float(y * y)
    den = math.sqrt(na) * math.sqrt(nb)
    return 0.0 if den == 0 else dot / den


@given(_vec_sets)
@settings(max_examples=300)
def test_blas_cosine_bitwise_equals_sequential_fold(vs):
    """The shared numpy cosine (``V.cos_from_dots`` over a BLAS matmul)
    == sequential-fold cosine (the engines) EXACTLY — no tolerance —
    for every pair of the set plus a zero vector on each side (the
    0.0-on-zero-denominator branch)."""
    vs = vs + [[0] * len(vs[0])]
    U = np.array(vs, dtype="float64")
    nrm = V.row_norms(U)
    cos = V.cos_from_dots(U @ U.T, nrm, nrm)
    for i, a in enumerate(vs):
        for j, b in enumerate(vs):
            # bitwise: both are the same double
            assert cos[i, j] == _seq_cos(a, b)
    # one vector on the right: dots of shape (n,), a scalar norm
    one = V.cos_from_dots(U @ U[0], nrm, nrm[0])
    assert [float(c) for c in one] == [_seq_cos(a, vs[0]) for a in vs]


def _full_gram_pairs(u, threshold):
    """Reference for ``V.near_pairs``: every pair i < j of one full
    gram, scored with the sequential fold."""
    rows = [list(r) for r in u]
    return {
        (i, j): _seq_cos(rows[i], rows[j])
        for i in range(len(rows))
        for j in range(i + 1, len(rows))
        if _seq_cos(rows[i], rows[j]) >= threshold
    }


def test_blocked_near_pairs_match_the_full_gram(monkeypatch):
    """With the block constant patched below n the gram runs in several
    row blocks; the pairs and their cosines must equal a full-gram
    reference exactly, zero vectors and near-duplicates included."""
    rng = np.random.default_rng(11)
    u = rng.integers(-1000, 1001, size=(300, 16)).astype("float64")
    u[7] = 0.0  # zero vector: cos 0.0 against everything
    u[150:170] = u[:20] + rng.integers(-1, 2, size=(20, 16))  # near-dups
    want = _full_gram_pairs(u, 0.3)

    unblocked = V.near_pairs(u, 0.3)
    monkeypatch.setattr(V, "GRAM_BLOCK_CELLS", 1)  # -> 128-row blocks
    blocked = V.near_pairs(u, 0.3)
    for i, j, c in (unblocked, blocked):
        got = {(int(a), int(b)): float(x) for a, b, x in zip(i, j, c)}
        assert len(got) == len(i)  # each pair once
        assert got == want
    assert len(want) >= 20
    none = V.near_pairs(u[:1], 0.3)
    assert all(len(x) == 0 for x in none)


@given(_vec_sets)
@settings(max_examples=100)
def test_integer_dots_are_order_independent(vs):
    """The exactness core: forward fold == reversed fold == numpy sum
    for every pairwise dot — any accumulation order hits the same
    integer, so no engine's summation strategy can diverge."""
    for a in vs:
        for b in vs:
            fwd = 0.0
            for x, y in zip(a, b):
                fwd += float(x * y)
            rev = 0.0
            for x, y in reversed(list(zip(a, b))):
                rev += float(x * y)
            npd = float(np.array(a, "float64") @ np.array(b, "float64"))
            assert fwd == rev == npd
            assert fwd == float(sum(x * y for x, y in zip(a, b)))


def test_anchor_cosine_scan_matches_expression_chain(spark):
    """Plumbing parity: the Arrow kernel's output equals the
    interpreted V.cos_pre/V.dot crossJoin formulation it replaced, on a
    seeded random corpus including zero vectors (the den==0 branch)."""
    import pyspark.sql.functions as F

    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries.vectorops import (
        anchor_cosine_scan,
    )

    rng = np.random.default_rng(7)
    rows = [
        (int(i), [int(x) for x in rng.integers(-1000, 1001, size=16)])
        for i in range(40)
    ]
    rows.append((40, [0] * 16))  # zero vector -> cos defined as 0.0
    df = spark.createDataFrame(rows, "vec_id long, e array<long>")
    anchors = [(r[0], r[1]) for r in rows[:3]] + [(40, [0] * 16)]

    got = {
        (r.anchor_id, r.vec_id): r.cos
        for r in anchor_cosine_scan(df, anchors).collect()
    }

    adf = spark.createDataFrame(
        anchors, "anchor_id long, ae array<long>"
    ).withColumn("na", V.norm(F.col("ae")))
    want = {
        (r.anchor_id, r.vec_id): r.cos
        for r in df.withColumn("nv", V.norm(F.col("e")))
        .crossJoin(F.broadcast(adf))
        .select(
            "anchor_id",
            "vec_id",
            V.cos_pre(
                F.col("e"), F.col("ae"), F.col("nv"), F.col("na")
            ).alias("cos"),
        )
        .collect()
    }
    assert got == want  # exact float equality, every pair
