"""One benchmark sample, run in a fresh process as a user's CLI call is.

    python3 perfbench/sample.py cli|registry --t0 EPOCH_S --passes N [--trace] ...

``--t0`` is the wall-clock time the parent started this process, so
``setup_s`` covers interpreter start, imports, ``get_spark()`` and one
trivial job. The process then times ``--passes`` passes of the
workload's work, each as one block: ``cli`` calls the CLI's ``run``,
``registry`` collects the three textops entries. ``--trace`` then runs
the same work once more layer by layer, one span per layer call (see
``spans.py``). The last stdout line is the sample's JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
from spans import TRACE_CONF, Tracer  # noqa: E402

ENTRIES = ["dedup_ngram_jaccard", "dedup_jaccard_budget_recall", "pipeline_full_curation"]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def _reset_state(a) -> None:
    """Every pass reads, accumulates and overwrites the same catalog."""
    shutil.rmtree(a.state, ignore_errors=True)
    shutil.copytree(a.seed_state, a.state)


def cli(spark, a) -> dict:
    """Pass ``i`` writes its outputs to ``<--out><i>``."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.__main__ import run

    passes = []
    for i in range(a.passes):
        _reset_state(a)
        t = time.perf_counter()
        with open(os.devnull, "w") as quiet, contextlib.redirect_stdout(quiet):
            rc = run([a.tree, "--out", f"{a.out}{i}", "--state", a.state])
        passes.append(time.perf_counter() - t)
        if rc != 0:
            break
    return {"passes_s": passes, "rc": rc}


def _release(spark) -> None:
    """Drop what the entries cached, so the next pass starts as the first."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def registry(spark, a) -> dict:
    """Each pass reads its own copy of the corpus, so the entries'
    per-corpus session memos are rebuilt as in a new session; the
    copy and the release of cached blocks are not timed."""
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import REGISTRY

    passes, digests = [], []
    for i in range(a.passes):
        sf_dir = f"{a.sf_dir}_pass{i}"
        shutil.copytree(a.sf_dir, sf_dir)
        got = {}
        t = time.perf_counter()
        for name in ENTRIES:
            df = REGISTRY[name].run(spark, sf_dir)
            got[name] = df.collect(), df.columns
        passes.append(time.perf_counter() - t)
        digests.append({n: oracle.rows_digest(cols, rows) for n, (rows, cols) in got.items()})
        _release(spark)
    return {"passes_s": passes, "digests": digests}


def traced_cli(spark, a) -> dict:
    """The untraced passes, then the CLI's exact + ``--state`` path once
    more (outputs in ``<--out>traced``), then the drain and ML layers on
    the small many-file tree, each layer call in its own span."""
    from pyspark.sql import functions as F

    from mgl870_tp02_project_01_hadoopmapreducelogs_spark import viz
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.__main__ import (
        _csv_single_file,
        _global_line_order,
    )
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.ml import anomaly
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.ml import pipeline as mlp
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.operators import drain, matrix
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.sources import logs, sinks

    res = cli(spark, a)
    if res["rc"] != 0:
        return res
    _reset_state(a)
    out = f"{a.out}traced"
    tr, counts = Tracer(spark), {}
    with tr.span("sources.logs.ingest"):
        parsed = logs.parse_lines(logs.read_log_dir(spark, a.tree)).cache()
        counts["sources.logs.lines"] = parsed.count()
        counts["sources.logs.files"] = parsed.select("file").distinct().count()
    with tr.span("operators.mining.mine"):
        catalog, occ = matrix.pipeline(parsed, method="exact")
        catalog = catalog.cache()
        counts["operators.mining.templates"] = catalog.count()
    cat_path = os.path.join(a.state, "catalog")
    with tr.span("sources.sinks.state"):
        old = sinks.read_catalog(spark, cat_path)
        catalog = sinks.accumulate_catalog(old, catalog).localCheckpoint()
        sinks.write_catalog(catalog, cat_path)
    counts["sources.sinks.state_bytes"] = _dir_bytes(cat_path)
    os.makedirs(out, exist_ok=True)
    with tr.span("operators.matrix.report"):
        _csv_single_file(
            matrix.summary_matrix(catalog, reference_names=True),
            os.path.join(out, "event_matrix_exec_traced.csv"),
        )
        catalog.count()
        totals = matrix.event_counts(occ).cache()
        matrix.failure_events(totals).orderBy(F.desc("total")).collect()
        viz.failure_distribution_data(totals).to_csv(
            os.path.join(out, "failure_distribution.csv"), index=False
        )
    parsed.unpersist()
    totals.unpersist()
    traced_cli_s = sum(s["wall_s"] for s in tr.spans.values())

    with tr.span("sources.logs.ingest_small_files"):
        small = logs.parse_lines(logs.read_log_dir(spark, a.small_tree)).cache()
        small.count()
    with tr.span("operators.drain.fit"):
        dcat = drain.fit_distributed(small).cache()
        counts["operators.drain.templates"] = dcat.count()
    with tr.span("operators.drain.match"):
        docc = matrix.occurrences_long(drain.match_distributed(small, dcat)).cache()
        docc.count()
    drain_size = dcat.agg(F.sum("size")).first()[0]
    event_ids = [r.cluster_id for r in dcat.select("cluster_id").collect()]
    target = dcat.orderBy("size", "cluster_id").first().cluster_id
    features = [f"Event_{i}" for i in event_ids if i != target]
    with tr.span("operators.matrix.wide"):
        wide = matrix.occurrences_wide(docc, event_ids=event_ids).cache()
        wide.count()
    with tr.span("operators.stats.prune"):
        _, kept = mlp.prune_correlated(wide, features, threshold=0.7)
    with tr.span("ml.pipeline.windows"):
        win = _global_line_order(wide).withColumn(
            "window_id", F.floor((F.col("_line_idx") - 1) / 5)
        )
        agg = win.groupBy("window_id").agg(
            *[F.sum(c).alias(c) for c in kept], F.max(f"Event_{target}").alias("label")
        )
        assembled = mlp.assemble(agg, kept).cache()
        assembled.count()
    with tr.span("ml.pipeline.split"):
        train, val, test = (d.cache() for d in mlp.three_way_split(assembled))
        for d in (train, val, test):
            d.count()
    with tr.span("ml.pipeline.lr"):
        lr = mlp.fit_logistic_regression(train)
        lr_val = mlp.evaluate_classifier(lr.transform(val))
        mlp.lr_importances(lr, kept)
    with tr.span("ml.pipeline.rf"):
        rf = mlp.fit_random_forest(train)
        rf_test = mlp.evaluate_classifier(rf.transform(test))
        mlp.rf_importances(rf, kept)
    with tr.span("ml.anomaly.iforest"):
        scored = anomaly.score_isolation_forest(assembled, kept)
        scored.orderBy(F.desc("anomaly_score")).limit(20).toPandas()
    with tr.span("ml.pipeline.pca"):
        mlp.fit_pca(assembled, k=2).transform(assembled).select("pca_features").toPandas()
    return {
        **res,
        "spans": tr.spans,
        "counts": counts,
        "traced_s": traced_cli_s,
        "drain_size": drain_size,
        "ml_metrics": {"lr": lr_val, "rf": rf_test},
    }


def traced_registry(spark, a) -> dict:
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import REGISTRY

    res = registry(spark, a)
    sf_dir = f"{a.sf_dir}_traced"
    shutil.copytree(a.sf_dir, sf_dir)
    tr, counts, digests = Tracer(spark), {}, {}
    for name in ENTRIES:
        span = f"queries.textops.{name}"
        with tr.span(span):
            df = REGISTRY[name].run(spark, sf_dir)
            rows = df.collect()
        digests[name] = oracle.rows_digest(df.columns, rows)
        counts[f"{span}.sort_aggregate_nodes"] = tr.sort_aggregates[span]
    counts["queries.persistent_rdds"] = len(spark.sparkContext._jsc.getPersistentRDDs())
    return {
        "passes_s": res["passes_s"],
        "spans": tr.spans,
        "counts": counts,
        "traced_s": sum(s["wall_s"] for s in tr.spans.values()),
        "digests": [*res["digests"], digests],
    }


MODES = {("cli", False): cli, ("registry", False): registry,
         ("cli", True): traced_cli, ("registry", True): traced_registry}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["cli", "registry"])
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--tree")
    ap.add_argument("--small-tree")
    ap.add_argument("--out")
    ap.add_argument("--state")
    ap.add_argument("--seed-state")
    ap.add_argument("--passes", type=int, required=True)
    ap.add_argument("--sf-dir")
    a = ap.parse_args()

    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.session import get_spark

    spark = get_spark(app_name="logspark-cli", extra_conf=TRACE_CONF if a.trace else None)
    spark.range(1).count()
    setup_s = time.time() - a.t0
    res = MODES[(a.mode, a.trace)](spark, a)
    res.update(setup_s=setup_s, master=spark.sparkContext.master,
               spark=spark.version, java=spark.sparkContext._jvm.System.getProperty("java.version"))
    print(json.dumps(res), flush=True)
    # skip the interpreter's teardown: the JVM stops its SparkContext in
    # its own shutdown hook once it sees this process's end
    os._exit(0)


if __name__ == "__main__":
    main()
