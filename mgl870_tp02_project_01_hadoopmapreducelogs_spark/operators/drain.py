"""T1(c) — faithful Drain-family online template mining, distributed.

The reference mines templates with the Drain3 library
(``template_miner.add_log_message``, process_logs_v10.py:59-81; knobs
depth=4, sim_th=0.4, max_clusters=10000 at process_logs_v10.py:8-17,
drain3.ini:1-8). This module reimplements the published Drain algorithm
(He et al., "Drain: An Online Log Parsing Approach with Fixed Depth
Tree", ICWS 2017) from the paper's description — a fixed-depth prefix
tree keyed by token count and leading tokens, leaf clusters matched by
token-wise similarity ≥ ``sim_th``, matched templates generalized by
replacing disagreeing tokens with ``<*>``.

Round-5 fidelity pass (closed the 20/50 golden-parity gap): three
behaviors of the drain3 library (the exact engine the reference runs)
were measured against the reference's committed ``event_matrix.csv``
golden and adopted:

1. **Whitespace tokenization** — drain3 strips the line and splits on
   ANY whitespace run (``content.split()``), so leading tabs vanish
   and double spaces collapse; templates re-render with single spaces.
2. **Fit similarity excludes accumulated wildcards** (drain3
   ``get_seq_distance(..., include_params=False)`` inside
   ``add_log_message``): template-side ``<*>`` positions count toward
   neither the numerator nor a free match — an eroded template gets
   *harder* to join, which is exactly why coarse catch-alls and fine
   literal clusters coexist in the reference's own output.
3. **Best-match tie-break by parameter count** (drain3
   ``fast_match``): among same-similarity candidates the one with
   more wildcards wins.

Inference (``match``) keeps the wildcard-permissive rule: a mined
``<*>`` matches any concrete token, which is what re-matching a corpus
against a finished catalog requires (and what drain3's
``template_miner.match`` does via its required-similarity path).
Measured replication on the reference corpus after this pass:
see tests/test_golden_reference.py.

Distribution strategy: Drain is order-sensitive, so a faithful port
cannot fit in parallel and stay equal to one serial run. The engine
keeps the fit serial and moves everything else off the driver:

1. the JVM reduces the lines to DISTINCT ``(masked, count)`` rows
   (map-side combine; ``add(msg, k)`` is ``k`` calls of ``add(msg)``);
2. the driver replays those rows in sorted order into one
   ``DrainMiner`` — the catalog is a function of the multiset of masked
   messages alone, the same under any partitioning or input order;
3. the catalog is broadcast and every line is rematched in an
   Arrow-batched ``pandas_udf``, so line→cluster assignment is exact
   w.r.t. the final catalog and Σ size = line count holds.

The driver holds O(distinct masked messages) rows and O(clusters)
miner state (SCALE_NOTES "Known non-scalable constructs"). The
knobs are the reference's drain3.ini values, module constants below,
so a fit and its match can never disagree on them. The canonical,
closed-form operators remain ``mining.mine_exact``/``mine_drainish``;
this one exists for parity with the reference's clustering behavior
(similarity-threshold merging the closed forms cannot express).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.preprocess import MASK_TOKEN, MASKED_COL
from . import mining

#: the reference's knobs (process_logs_v10.py:8-17, drain3.ini:1-8):
#: tree depth, similarity threshold and cluster cap; every fit, match
#: and stream reads these, none takes them per call
DEPTH = 4
SIM_TH = 0.4
MAX_CLUSTERS = 10_000
#: the streaming miner's cap on clusters per state-store leaf
LEAF_CAP = 512


class Cluster:
    """One leaf cluster: its template tokens and its line count."""

    __slots__ = ("tokens", "size", "idx")

    def __init__(self, tokens: list[str], size: int = 0, idx: int = 0):
        self.tokens = tokens
        self.size = size
        self.idx = idx  # position in DrainMiner.clusters — O(1) id lookup


class DrainMiner:
    """Fixed-depth-tree online log clustering (He et al. 2017).

    ``depth`` counts internal levels: root → token-count → first
    ``depth-2`` tokens → leaf cluster list (reference knob
    tree_max_depth=4, drain3.ini). Numeric-looking tokens route through
    ``MASK_TOKEN`` branches so ids don't explode the tree (paper §III.B).
    """

    def __init__(
        self, depth: int = DEPTH, sim_th: float = SIM_TH, max_clusters: int = MAX_CLUSTERS
    ):
        self.depth = depth
        self.sim_th = sim_th
        self.max_clusters = max_clusters
        self.root: dict = {}
        self.clusters: list[Cluster] = []
        self._overflow: Cluster | None = None

    # -- tree navigation -----------------------------------------------------

    @staticmethod
    def _branch_token(tok: str) -> str:
        return MASK_TOKEN if any(ch.isdigit() for ch in tok) else tok

    def _leaf(self, tokens: list[str], create: bool) -> list[Cluster] | None:
        node = self.root
        keys = [str(len(tokens))] + [
            self._branch_token(t) for t in tokens[: self.depth - 2]
        ]
        for k in keys:
            nxt = node.get(k)
            if nxt is None:
                if not create:
                    return None
                nxt = node[k] = {}
            node = nxt
        if "\0leaf" not in node:
            if not create:
                return None
            node["\0leaf"] = []
        return node["\0leaf"]

    # -- tokenization ----------------------------------------------------------

    @staticmethod
    def _tokens(message: str) -> list[str]:
        """drain3 tokenization: strip + split on any whitespace run
        (leading tabs vanish, multiple spaces collapse — both measured
        against the reference's golden catalog). A blank line becomes a
        single empty token so all blanks share one cluster rendering
        as the empty template, matching the golden's ``ID=68`` row."""
        return message.split() or [""]

    # -- similarity ------------------------------------------------------------

    @staticmethod
    def _sim_fit(tpl: list[str], msg: list[str]) -> tuple[float, int]:
        """drain3 ``get_seq_distance(include_params=False)``: the
        fraction of template positions whose LITERAL token equals the
        message token; accumulated ``<*>`` positions are skipped (they
        neither help nor hurt the numerator but stay in the
        denominator), returned separately for the fast_match
        tie-break."""
        if len(tpl) != len(msg) or not tpl:
            return 0.0, 0
        sim = 0
        params = 0
        for x, y in zip(tpl, msg):
            if x == MASK_TOKEN:
                params += 1
            elif x == y:
                sim += 1
        return sim / len(tpl), params

    @staticmethod
    def _sim_match(tpl: list[str], msg: list[str]) -> float:
        """Inference-side similarity: a mined ``<*>`` matches any
        concrete token (re-matching a corpus against a finished
        catalog)."""
        if len(tpl) != len(msg) or not tpl:
            return 0.0
        same = sum(
            1 for x, y in zip(tpl, msg) if x == y or x == MASK_TOKEN or y == MASK_TOKEN
        )
        return same / len(tpl)

    # -- fit -------------------------------------------------------------------

    def absorb(
        self, leaf: list[Cluster], tokens: list[str], count: int, full: bool
    ) -> Cluster | None:
        """Drain's in-leaf rule, shared by the batch fit and the
        stream's leaves: the best match is the leaf cluster of highest
        fit similarity, ties going to the one with more wildcards
        (drain3 ``fast_match``). At ``sim_th`` or above it takes the
        message and generalizes every disagreeing token to ``<*>``;
        below it, a ``full`` miner still counts the message into it
        without generalizing. Returns None when the caller must open a
        new cluster."""
        best, best_sim, best_params = None, -1.0, -1
        for cl in leaf:
            s, p = self._sim_fit(cl.tokens, tokens)
            if s > best_sim or (s == best_sim and p > best_params):
                best, best_sim, best_params = cl, s, p
        if best is None or (best_sim < self.sim_th and not full):
            return None
        if best_sim >= self.sim_th:
            best.tokens = [
                x if x == y else MASK_TOKEN for x, y in zip(best.tokens, tokens)
            ]
        best.size += count
        return best

    def add(self, message: str, count: int = 1) -> int:
        """Absorb one (masked) message; returns the cluster index."""
        tokens = self._tokens(message)
        leaf = self._leaf(tokens, create=True)
        full = len(self.clusters) >= self.max_clusters
        cl = self.absorb(leaf, tokens, count, full)
        if cl is not None:
            return cl.idx
        if full:
            # overflow with an empty leaf: never grow past the cap —
            # count into a single catch-all cluster (at most
            # max_clusters regular clusters + 1 catch-all)
            if self._overflow is None:
                self._overflow = Cluster([MASK_TOKEN], 0, idx=len(self.clusters))
                self.clusters.append(self._overflow)
            self._overflow.size += count
            return self._overflow.idx
        cl = Cluster(tokens, count, idx=len(self.clusters))
        leaf.append(cl)
        self.clusters.append(cl)
        return cl.idx

    # -- inference ---------------------------------------------------------------

    def match(self, message: str) -> int | None:
        """T2 semantics: find the best cluster WITHOUT updating state
        (template_miner.match, process_logs.py:71); None if no leaf or
        below threshold."""
        tokens = self._tokens(message)
        leaf = self._leaf(tokens, create=False)
        if not leaf:
            return None
        best, best_sim = None, -1.0
        for cl in leaf:
            s = self._sim_match(cl.tokens, tokens)
            if s > best_sim:
                best, best_sim = cl, s
        if best is None or best_sim < self.sim_th:
            return None
        return best.idx

    def templates(self) -> list[tuple[str, int]]:
        return [(" ".join(c.tokens), c.size) for c in self.clusters]


def fit_distributed(parsed: DataFrame) -> DataFrame:
    """Fit Drain over ``parsed[MASKED_COL]``: one driver miner over the
    JVM-reduced distinct messages (``mining.count_templates``),
    replayed in sorted order.

    Returns ``mining.rank_catalog`` of the fitted templates. The catalog
    depends on the multiset of masked messages only — not on
    partitioning or line order.
    """
    counts = mining.count_templates(parsed.filter(F.col(MASKED_COL).isNotNull()))
    miner = DrainMiner()
    for msg, k in sorted(counts.collect()):
        miner.add(msg, int(k))
    # distinct clusters can converge to the SAME template string under
    # the faithful fit similarity (wildcards excluded) — collapse them
    # so the catalog keys stay unique (size is conserved either way)
    agg: dict[str, int] = {}
    for t, size in miner.templates():
        agg[t] = agg.get(t, 0) + size
    return mining.rank_catalog(
        parsed.sparkSession.createDataFrame(
            list(agg.items()), "template string, size long"
        )
    )


def match_distributed(parsed: DataFrame, catalog: DataFrame) -> DataFrame:
    """Broadcast the catalog, rebuild the (small) tree per executor,
    and match every line — exact w.r.t. the fitted catalog."""
    spark = parsed.sparkSession
    cat_rows = sorted(map(tuple, catalog.select("cluster_id", "template").collect()))
    b = spark.sparkContext.broadcast(cat_rows)

    @F.pandas_udf("long")
    def drain_match(msgs: pd.Series) -> pd.Series:
        miner = DrainMiner(max_clusters=len(b.value) + 1)
        # replaying catalog templates (in id order) can merge similar
        # ones — map the miner's cluster index back to the LOWEST
        # catalog id it absorbed
        idx_to_cid: dict[int, int] = {}
        for cid, template in b.value:
            idx = miner.add(template, 0)
            idx_to_cid.setdefault(idx, cid)

        def lookup(m):
            idx = miner.match(m)
            return None if idx is None else idx_to_cid.get(idx)

        # tree-match once per distinct message in the batch, then
        # broadcast-map the answers back over the rows
        uniq = {m: lookup(m) for m in msgs.dropna().unique()}
        return msgs.map(lambda m: uniq.get(m) if m is not None else None)

    return parsed.withColumn("cluster_id", drain_match(F.col(MASKED_COL)))
