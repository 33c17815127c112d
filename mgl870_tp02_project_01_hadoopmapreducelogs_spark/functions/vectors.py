"""The one exact-cosine kernel of the vector operators, on both sides of
the Python boundary: Column expressions over ``array`` embedding columns
(built-in higher-order functions, JVM-side) and numpy arrays (the
Arrow-batched BLAS passes in ``queries/vectorops.py`` and
``queries/extended.py``).

Every cosine here is ``dot / (‖u‖·‖v‖)`` formed in one op order — sqrt,
multiply, divide — and is 0.0 when the denominator is 0. Over
integer-ized embeddings every dot product and squared norm is an
integer below 2^53, exact in float64 under any accumulation order, so
the Column form, the numpy form and the DuckDB oracles' list arithmetic
all give the same double (``tests/test_kernel_parity.py``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: doubles per gram block of ``near_pairs``: one block's (rows x n)
#: cosine matrix stays near 2^24 doubles (128 MB), so a hot bucket
#: costs more block passes, never a multi-GB allocation
GRAM_BLOCK_CELLS = 1 << 24


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cos_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with the norms precomputed per ROW (higher-order array
    functions are interpreted, not codegen'd — recomputing both norms
    per PAIR costs 5 array passes a pair; with norms as scalar columns
    a pair costs one dot product). Same op order as ``cosine``."""
    return F.when(na * nb == 0, F.lit(0.0)).otherwise(dot(a, b) / (na * nb))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector is all-zero."""
    return cos_pre(a, b, norm(a), norm(b))


def l2_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def unit(a: Column) -> Column:
    """L2-normalized copy (for cosine → dot-product reduction)."""
    n = norm(a)
    return F.when(n == 0, a).otherwise(F.transform(a, lambda x: x / n))


# --- numpy side ----------------------------------------------------------------


def row_norms(u):
    """The L2 norm of every row of the float64 matrix ``u``."""
    import numpy as np

    return np.sqrt((u * u).sum(axis=1))


def cos_from_dots(dots, nu, nv):
    """The batch cosine: ``dots[i, j] / (nu[i] * nv[j])``, 0.0 where the
    denominator is 0. ``dots`` is ``u @ v.T`` for rows ``u`` with norms
    ``nu`` and rows ``v`` with norms ``nv``; ``v`` may be one vector
    (``dots`` of shape (n,), ``nv`` a scalar). Callers that also need
    the dot products (a distance argmin) pass the ones they hold."""
    import numpy as np

    den = np.multiply.outer(nu, nv)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den == 0.0, 0.0, dots / den)


def near_pairs(u, threshold: float):
    """Row pairs ``i < j`` of ``u`` whose cosine is at least
    ``threshold``: ``(i, j, cos)`` as three arrays.

    The gram runs as float64 BLAS dgemm over row blocks of about
    ``GRAM_BLOCK_CELLS`` doubles each — ~14x faster than numpy's
    BLAS-less integer matmul (measured 0.39s -> 0.03s per 3000-vector
    bucket). It is exact: every product and partial sum is an integer
    far below 2^53, so neither the accumulation order nor the blocking
    can round, and the block results equal the full gram's."""
    import numpy as np

    n = len(u)
    if n < 2:
        none = np.array([], "int64")
        return none, none, np.array([], "float64")
    nrm = row_norms(u)
    blk = max(128, GRAM_BLOCK_CELLS // n)
    ii, jj, cc = [], [], []
    for s in range(0, n, blk):
        cos = cos_from_dots(u[s : s + blk] @ u.T, nrm[s : s + blk], nrm)
        bi, bj = np.nonzero(cos >= threshold)
        gi = bi + s
        keep = gi < bj  # upper triangle only
        ii.append(gi[keep])
        jj.append(bj[keep])
        cc.append(cos[bi[keep], bj[keep]])
    return np.concatenate(ii), np.concatenate(jj), np.concatenate(cc)
