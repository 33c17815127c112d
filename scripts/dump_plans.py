"""Write PLANS.md: a plan-shape audit of every bench headline query.

For each query, record the scale-critical plan facts (broadcast joins,
pushed filters, partial aggregation, TakeOrdered, Python boundaries,
exchange count) plus any single-partition exchanges — the evidence that
the plans survive a 100x scale-up, refreshed mechanically so it cannot
drift from the code.

Usage: python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


#: audited SinglePartition exchanges: query -> why the single
#: partition is bounded (verified against the physical plan by hand;
#: see SCALE_NOTES.md). Anything NOT listed here still prints "!".
SINGLE_PART_OK = {
    # name -> (label, expected SinglePartition count). If the plan ever
    # grows MORE single-partition exchanges than were audited, the
    # label no longer applies and "!" prints again.
    "t1a_mine_templates": ("cat-sort", 1),   # catalog-sized mining.rank_catalog sort
    "t2_match_lines": ("cat-sort", 1),       # same bounded catalog ranking
    "t1b_drainish_mining": ("cat-sort", 1),  # same ranking, over the templates
    "t1c_drain_mining": ("cat-sort", 1),     # same ranking, over the driver
                                             # fit's templates
    "text_tfidf_topk": ("scalar", 1),        # partial-agg'd count(1) -> n_docs broadcast
    "split_leakage_audit": ("scalar", 1),    # final 1-row corpus rollup, partials
                                             # map-side (pinned in test_plans.py::
                                             # test_lifecycle_ops_plan_shapes)
    "text_bigram_logprob": ("scalar", 1),    # 1-row vocab-size aggregate (partial
                                             # agg'd count over the unigram table,
                                             # then broadcast to the scorer)
    "source_jsonl_roundtrip": ("scalar", 2),  # two 1-row rollups (read-back
                                              # stats + divergence count), both
                                              # partial-agg'd map-side before the
                                              # single-partition final
    "text_dsir_selection": ("scalar", 1),     # 1-row LM totals (t_n, c_n)
                                              # aggregated from the bounded
                                              # 4096-row bucket table, partials
                                              # map-side, result broadcast into
                                              # the per-bucket term quantization
    "text_bm25_search": ("scalar", 1),        # 1-row corpus stats (n_docs,
                                              # total_dl), partial-agg'd then
                                              # broadcast to the scorer
    "dedup_jaccard_budget_recall": ("scalar", 4),  # the audit's four
                                              # 1-row counts (r13 adds
                                              # n_docs_sampled to
                                              # n_full / n_budgeted /
                                              # n_hit), each partial-
                                              # agg'd map-side over a
                                              # checkpointed pair set
                                              # (or the sampled scan)
                                              # before its single-
                                              # partition final
    "text_langid_agreement": ("scalar", 1),   # the contract's final
                                              # keyless verdict
                                              # aggregate (count/sum
                                              # over per-doc agree
                                              # booleans), partials
                                              # map-side
    "streaming_minhash_dedup_fast": ("scalar", 1),  # the contract's final
                                              # keyless verdict aggregate
                                              # (max/min/avg over 3 booleans),
                                              # partial_max/min/avg map-side
                                              # before the SinglePartition
                                              # final — plan read r10
    "text_kn_bigram_perplexity": ("scalar", 1),  # 1-row count(1) vocab-size
                                              # aggregate, partial_count
                                              # map-side then IdentityBroadcast
                                              # into the scorer — plan read r10
    "source_wet_roundtrip": ("scalar", 2),    # two 1-row rollups (read-back
                                              # stats + exceptAll divergence
                                              # count), both partial-agg'd
                                              # map-side — the
                                              # source_jsonl_roundtrip shape
    "streaming_wet_ingest": ("scalar", 2),    # the SAME two audit rollups as
                                              # source_wet_roundtrip (shared
                                              # _wet_audit), here over the
                                              # streamed memory table — plan
                                              # read r10, exactly 2
                                              # SinglePartition ENSURE_
                                              # REQUIREMENTS finals
}
# (corpus_shard_manifest briefly carried a `pack-l2` SinglePartition
# audit: with a single LITERAL layout, constant folding collapsed the
# level-2 totals window to SinglePartition. The packer's histogram
# localCheckpoint — added to stop the upstream corpus aggregate from
# running twice — makes `layout` a real column, so the window now
# plans as hashpartitioning(layout) over the shift-bounded totals
# table and no SinglePartition exists; pinned in
# tests/test_plans.py::test_shard_manifest_no_single_partition.)

#: queries whose DISTRIBUTED work executes eagerly during construction
#: (iterative trainers / greedy walks holding bounded driver state);
#: the returned frame is a model-scale summary, so its plan columns
#: describe only that summary. The real per-pass plan shapes are
#: documented in each query's docstring and measured in SCALE_NOTES.md.
EAGER_CONSTRUCTION = {
    "text_bpe_train": "5 rounds: pair explode -> partial-agg count -> "
    "TakeOrdered(1) over the cached vocab-bounded word table",
    "sim_mmr_topk": "one relevance map pass + TakeOrdered(pool); greedy "
    "walk is O(k*pool) driver work on the collected pool",
    "dedup_semdedup_kmeans": "spark.ml KMeans fit + broadcast-centroid "
    "cosine pass + per-cell applyInPandas gram (same stage as "
    "dedup_semdedup, whose row above shows the shape)",
    "graph_pagerank_docs": "one count() scan for the integer teleport "
    "constant (model-scale scalar, like seeds); the six rank "
    "iterations are lazy and localCheckpoint-truncated per round",
    "dedup_jaccard_budget_recall": "one count() scan for the audit's "
    "sample modulus (r12 input bound, model-scale scalar — the "
    "pagerank teleport shape); both audit legs are lazy over the "
    "checkpointed sampled shingle table",
    "dedup_incremental_bloom": "one bounded bitset-build pass over the "
    "index fingerprints (distributed bit_or words, <= BLOOM_M/64-row "
    "driver collect — the IVF-codebook footing); the prescreen + "
    "anti-join report is lazy",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from bench import HEADLINE

    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.plans import plan_report
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.plans.audit import (
        explain_str,
    )
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import REGISTRY
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.session import (
        get_spark,
        quiet_bounded_window_warns,
    )

    spark = get_spark(
        app_name="plan-audit",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    quiet_bounded_window_warns(spark)

    rows = []
    for name in HEADLINE:
        df = REGISTRY[name].run(spark, sf_dir)
        rep = plan_report(df)
        simple = explain_str(df, "simple")
        # a SinglePartition exchange is fine only under a scalar
        # aggregate / catalog-sized relation; flag it for review
        n_single = simple.count("SinglePartition")
        single = n_single > 0
        audited = SINGLE_PART_OK.get(name)
        note = audited[0] if audited and audited[1] == n_single else None
        rows.append(
            (
                name,
                "y" if rep["has_broadcast_join"] else "",
                "y" if rep["has_pushed_filters"] else "",
                "y" if rep["has_partial_agg"] else "",
                "y" if rep["has_take_ordered"] else "",
                "py" if rep["has_python_udf"] else "",
                str(rep["n_exchanges"]),
                (note if note else "!") if single else "",
            )
        )

    with open("PLANS.md", "w") as f:
        f.write(
            "# PLANS — mechanical plan-shape audit of the bench headline "
            "queries\n\n"
            f"Generated by `scripts/dump_plans.py` at `{sf_dir}`. Columns: "
            "bcast = broadcast join present; push = filters pushed to the "
            "scan; pagg = partial (map-side) aggregation; topk = "
            "TakeOrderedAndProject; py = Python/Arrow boundary in the plan "
            "(documented extension points only); exch = Exchange count; "
            "1part = a SinglePartition exchange exists: '!' = unexplained "
            "(review!), 'cat-sort' = audited bounded catalog-sized sort, "
            "'scalar' = audited partial-agg'd scalar aggregate (both "
            "scale-safe — see SCALE_NOTES.md).\n\n"
            "| query | bcast | push | pagg | topk | py | exch | 1part |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            name = r[0] + (" †" if r[0] in EAGER_CONSTRUCTION else "")
            f.write("| " + " | ".join((name, *r[1:])) + " |\n")
        f.write(
            "\n† = distributed work runs eagerly during query "
            "construction (iterative trainer / greedy walk with bounded "
            "driver state); the row describes only the returned "
            "model-scale summary. Per-pass shapes:\n\n"
        )
        for name, why in EAGER_CONSTRUCTION.items():
            f.write(f"- `{name}`: {why}\n")
    print(f"PLANS.md written ({len(rows)} queries)")


if __name__ == "__main__":
    main()
