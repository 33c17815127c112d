"""Iterative graph operators — the algorithm class the rest of the
engine's declarative surface can't express in one plan.

The concrete need: near-duplicate detection emits PAIRS
(dedup_ngram_jaccard / minhash / simhash / embedding_cosine), but a
dedup decision needs GROUPS — transitively connected components with
one keeper per component (A~B, B~C ⇒ {A,B,C} keep min id). That is
union-find / connected components, here as distributed min-label
propagation:

    label(v) ← min(label(v), min over neighbors u of label(u))

implemented driver-side (union-find) for small pair sets and as the
alternating large-star/small-star edge-rewiring algorithm (Kiveris et
al. 2014) for large ones — O(log^2 n) rounds where naive min-label
propagation is O(diameter) and label pointer-doubling degenerates
(min-label pointers land on self-rooted local minima, so composing
labels is a no-op; measured on a diameter-68 component that crept for
30+ propagation rounds and star-converged in 5). Lineage is truncated
per round with ``localCheckpoint`` so the loop doesn't build an
unbounded plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: adaptive cutover: an edge list with at most this many pairs is
#: union-found on the driver in one pass (microseconds) instead of
#: paying O(diameter) distributed rounds of per-job scheduling.
#: Detection is the ``limit(CAP+1)`` collect below, so an over-cap
#: graph pays at most CAP+1 rows of wasted transfer. The cap is sized for
#: PySpark Row overhead (~1-2 KB/Row on the driver heap, not the 16 B
#: payload): 100k edges ≈ low hundreds of MB worst case, comfortably
#: inside the 8 GB driver. Past the cap the distributed min-label loop
#: below takes over unchanged.
DRIVER_CC_CAP = 100_000
#: round budget of the distributed star loop, which converges in
#: O(log² n) rounds (a 3,000-vertex chain is pinned inside it in
#: tests/test_graph.py)
CC_MAX_ITER = 20


def _driver_union_find(pairs: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Path-compressed union-find; returns (doc_id, min-reachable-id)
    rows for every vertex in ``pairs`` — identical semantics to the
    distributed min-label propagation."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id so the root IS the canonical keeper
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(v, find(v)) for v in parent]


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components of the undirected ``(doc_a, doc_b)`` pair
    graph.

    Returns ``(doc_id, component)`` for every vertex that appears in
    an edge, where ``component`` is the minimum doc_id transitively
    reachable (the canonical keeper id). Deterministic; iterates until
    no label changes or ``CC_MAX_ITER`` rounds (raises if not converged — a
    silent partial answer would corrupt the dedup decision). Edge lists
    under ``DRIVER_CC_CAP`` skip the loop entirely and union-find on
    the driver.
    """
    dedup_edges = edges.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).distinct()
    # r13 OPTIMIZATION: size-probe and fetch in ONE job instead of
    # count() + collect() — the limit bounds driver transfer to CAP+1
    # rows either way, and
    # the session pins limit.initialNumPartitions so this is one
    # parallel fetch, not CollectLimit's incremental job ladder. The
    # probe runs on the UNcheckpointed edge list: in the (common)
    # under-cap case the pair pipeline executes exactly once, inside
    # this job — the eager checkpoint that used to precede it was a
    # second full materialization the driver path never read again.
    # The over-cap distributed path re-executes the pipeline once to
    # checkpoint it below — the right side to pay, since its loop
    # then reads the blocks ~10 more times.
    head = dedup_edges.limit(DRIVER_CC_CAP + 1).collect()
    if len(head) <= DRIVER_CC_CAP:
        rows = _driver_union_find(sorted((r.a, r.b) for r in head))
        return edges.sparkSession.createDataFrame(
            rows, "doc_id long, component long"
        )
    dedup_edges = dedup_edges.localCheckpoint()
    sym = (
        dedup_edges
        .unionByName(dedup_edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    # every vertex that carries an edge — the final label table must
    # cover exactly this set
    vertices = sym.select(F.col("a").alias("doc_id")).distinct().localCheckpoint()

    # --- alternating large-star / small-star (Kiveris et al. 2014,
    # "Connected Components in MapReduce and Beyond") ----------------
    # Plain min-label propagation is O(diameter) rounds, and pointer
    # doubling does NOT rescue it: under min-labels a vertex's pointer
    # lands on a LOCAL minimum whose own label is itself, so composing
    # labels is a no-op and progress stays one hop per round between
    # id-valleys (measured on the 100x synthetic corpus: a diameter-68
    # component still creeping after 30 rounds). The star operations
    # fix this by REWIRING EDGES, not labels: each round hangs every
    # vertex's neighborhood off the neighborhood minimum, so minima of
    # different valleys become direct neighbors and the component
    # flattens into a star in O(log^2 n) rounds (conjectured O(log n);
    # ~5 alternations on the measured corpus).
    #
    #   large-star(u): m = min(neighbors(u) + {u});
    #                  emit (v, m) for every neighbor v > u
    #   small-star(u): m = min(smaller-neighbors(u) + {u});
    #                  emit (v, m) for every neighbor v <= u, plus (u, m)
    #
    # Both preserve connectivity exactly; at fixpoint the edge set IS
    # the (leaf -> component-min root) star, which is the answer.

    def _canon(ed: DataFrame) -> DataFrame:
        # canonical undirected edge (lo, hi), self-loops dropped
        return (
            ed.select(
                F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def _both(ed: DataFrame) -> DataFrame:
        return ed.unionByName(
            ed.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )

    def _large_star(ed: DataFrame) -> DataFrame:
        d = _both(ed)
        m = d.groupBy("a").agg(F.least(F.col("a"), F.min("b")).alias("m"))
        return _canon(
            d.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )

    def _small_star(ed: DataFrame) -> DataFrame:
        d = _both(ed).filter(F.col("b") < F.col("a"))  # smaller neighbors
        m = d.groupBy("a").agg(F.min("b").alias("m"))
        hang = d.join(m, "a").select(F.col("b").alias("a"), F.col("m").alias("b"))
        keep = m.select(F.col("a"), F.col("m").alias("b"))
        return _canon(hang.unionByName(keep))

    def _sig(ed: DataFrame):
        # deterministic convergence signature: count + exact decimal
        # sums + an order-insensitive hash — cheap, partializable
        row = ed.agg(
            F.count(F.lit(1)),
            F.sum(F.col("a").cast("decimal(38,0)")),
            F.sum(F.col("b").cast("decimal(38,0)")),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
        ).collect()[0]
        return tuple(row)

    ed = _canon(dedup_edges).localCheckpoint()
    prev_ed, prev = ed, _sig(ed)
    for _ in range(CC_MAX_ITER):
        ed = _small_star(_large_star(ed)).localCheckpoint(eager=False)
        cur = _sig(ed)
        if cur == prev and ed.exceptAll(prev_ed).isEmpty():
            # signature match is probabilistic (count + coordinate sums
            # + xxhash64 sum); confirm edge-set equality exactly before
            # declaring fixpoint — one anti-diff on the (already small,
            # star-shaped) edge set, paid once (ADVICE r3). Same
            # multiset cardinality is pinned by the count component of
            # the signature, so one-sided exceptAll suffices.
            # fixpoint: ed is canonical (root, leaf) stars — the root
            # is the smaller endpoint. Labels: leaves point at their
            # root; roots (and isolated-after-rewiring vertices) label
            # themselves.
            stars = ed.select(
                F.col("a").alias("component"), F.col("b").alias("doc_id")
            )
            return (
                vertices.join(stars, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce("component", "doc_id").alias("component"),
                )
            )
        prev_ed, prev = ed, cur
    raise RuntimeError(f"connected_components did not converge in {CC_MAX_ITER} rounds")


def dedup_groups(edges: DataFrame) -> DataFrame:
    """Collapse near-dup ``(doc_a, doc_b)`` pairs into groups: one row
    per component with the keeper (min doc_id) and group size."""
    comp = connected_components(edges)
    return comp.groupBy("component").agg(
        F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_docs")
    )
