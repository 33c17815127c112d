"""Command-line pipeline — the reference's one-command lifecycle.

The reference IS a script: ``python process_logs_v10.py`` over a log
directory runs ingest → Drain mining (with persisted state) → event
matrix CSV → failure stats → chart → windowed ML (LR/RF metrics,
importances, isolation forest, PCA). This module is the same user
contract on the Spark engine:

    python -m mgl870_tp02_project_01_hadoopmapreducelogs_spark LOGS_DIR \
        --out out/ [--method exact|drainish|drain] [--state state_dir] \
        [--ml --target-event N] [--window-size 5]

Outputs land in ``--out``:
  event_matrix_exec<timestamp>.csv   reference-named summary matrix
                                     (Cluster ID,Size,Template — header
                                     and naming of the reference golden
                                     event_matrix_exec202411200106PM.csv,
                                     process_logs_v10.py:126-162)
  failure_distribution.csv           bar-chart data (V1 edge extract)
  ml_report.txt, lr_coefficients.csv, rf_importances.csv,
  anomaly_scores.csv, pca_projection.csv        (--ml only)

``--state`` reproduces the drain3_state.bin accumulate-across-runs
semantics (process_logs_v10.py:39-40,120): the persisted catalog is
read, merged with this run's mining, staged and swapped back in
(``sources.sinks.write_catalog``), and the REPORTED matrix carries the
accumulated sizes — exactly how the reference's golden CSV sizes grow
run over run (BASELINE.md: 1,984,400 → 6,716,120 over the same
corpus). The failure statistics and chart data are this run's
per-event totals, under the reported matrix's ids.

Without ``--ml``, the ``exact`` and ``drainish`` methods read the lines
once: the per-event totals are the catalog sizes (the reference reads
them off the miner's clusters too), so every stage after mining is
catalog-sized.

A missing ``LOGS_DIR``, or one with no ``container_*.log`` file,
exits with status 2 and a one-line message naming the path; under
``--stream`` the second case is a first run that consumed no file.
So does an ``--ml`` run whose ``--target-event`` is not in the event
catalog, before it writes the ``--state`` catalog. A ``--window-size``
below 1 is a usage error, and so is ``--stream`` with ``--ml``,
``--target-event`` or a ``--method`` other than ``exact``: the stream
exports the exact catalog only.
"""

from __future__ import annotations

import argparse
import os
import sys
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.windows import WINDOW_SIZE, cumulative_offset


def _global_line_order(parsed: DataFrame) -> DataFrame:
    """Total line order (file, line_no) → one numeric ``_line_idx``.

    ``line_no`` already runs 1..n in each file (``logs._with_line_ids``)
    and every line reaches here, so the index is ``line_no`` plus the
    file's ``windows.cumulative_offset`` — file COUNT is small even
    when files are not; no sort, no single-partition exchange.
    """
    return parsed.withColumn(
        "_line_idx", F.col("line_no") + cumulative_offset(parsed, "file")
    )


def _csv_single_file(df: DataFrame, path: str) -> None:
    """The reference's literal one-file ``to_csv`` convention: write the
    (catalog-sized) frame through the CSV sink, then promote the single
    part file to ``path`` itself."""
    import glob
    import shutil

    from .sources import sinks

    tmp = path + ".spark-tmp"
    sinks.write_csv(df, tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    shutil.move(part, path)
    shutil.rmtree(tmp)


def _export_matrix(catalog: DataFrame, out: str) -> str:
    """Write the reference-named summary matrix into ``out``; returns
    its path."""
    from .operators import matrix

    stamp = datetime.now().strftime("%Y%m%d%I%M%p")
    path = os.path.join(out, f"event_matrix_exec{stamp}.csv")
    _csv_single_file(matrix.summary_matrix(catalog, reference_names=True), path)
    return path


def run(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="mgl870_tp02_project_01_hadoopmapreducelogs_spark",
        description="Log-analytics pipeline (reference process_logs_v10.py parity)",
    )
    ap.add_argument("logs_dir", help="directory tree of container_*.log files")
    ap.add_argument("--out", default="out", help="output directory")
    ap.add_argument(
        "--method", default="exact", choices=["exact", "drainish", "drain"],
        help="template mining method (exact=canonical, drain=faithful Drain)",
    )
    ap.add_argument("--state", default=None, help="catalog persistence dir "
                    "(drain3_state.bin accumulate-across-runs semantics)")
    ap.add_argument("--ml", action="store_true", help="run the windowed "
                    "LR/RF/IF/PCA analytics (process_logs_v10.py:220-447)")
    ap.add_argument("--target-event", type=int, default=None,
                    help="cluster_id of the failure event to predict "
                    "(default: rarest event, mirroring target_event=1020)")
    ap.add_argument("--window-size", type=int, default=WINDOW_SIZE)
    ap.add_argument("--stream", action="store_true",
                    help="incremental mode: process only log files not "
                    "yet seen by the --state checkpoint (Structured "
                    "Streaming availableNow catch-up), update the "
                    "persisted catalog, and exit")
    ap.add_argument("--master", default=None, help="Spark master override")
    args = ap.parse_args(argv)
    if args.stream and not args.state:
        ap.error("--stream requires --state (checkpoint + catalog location)")
    if args.stream and (args.ml or args.target_event is not None
                        or args.method != "exact"):
        ap.error("--stream mines with --method exact and takes no --ml "
                 "or --target-event")
    if args.window_size < 1:
        ap.error("--window-size must be at least 1")

    from .session import get_spark

    spark = get_spark(app_name="logspark-cli", master=args.master)
    os.makedirs(args.out, exist_ok=True)

    if args.stream:
        return _run_stream(spark, args)
    held: list[DataFrame] = []
    try:
        return _run_batch(spark, args, held)
    finally:
        # only what the run cached: frames the caller cached stay cached
        for df in held:
            df.unpersist()


def _open_logs(read, spark, logs_dir: str) -> DataFrame | None:
    """``read(spark, logs_dir)``, or None after a one-line message if the
    directory does not exist."""
    from pyspark.errors import AnalysisException

    try:
        return read(spark, logs_dir)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        print(f"error: log directory not found: {logs_dir}", file=sys.stderr)
        return None


def _no_logs(logs_dir: str) -> int:
    print(f"error: no container_*.log files under {logs_dir}", file=sys.stderr)
    return 2


def _run_batch(spark, args, held: list[DataFrame]) -> int:
    """The batch pipeline. ``exact`` and ``drainish`` without ``--ml``
    scan the lines in one query and cache no line; everything after it
    is catalog-sized. Whatever it caches goes into ``held``."""
    from .operators import matrix
    from .sources import logs, sinks
    from . import viz

    raw = _open_logs(logs.read_log_dir, spark, args.logs_dir)
    if raw is None:
        return 2
    parsed = logs.parse_lines(raw)
    # the scan's file listing: no job (and a cached plan no longer shows it)
    n_files = len(parsed.inputFiles())
    if n_files == 0:
        return _no_logs(args.logs_dir)
    if args.ml or args.method in matrix.MATCHED_TOTALS:
        # the occurrence table (--ml's pivot, drain's match) reads the
        # lines a second time
        parsed = parsed.cache()
        held.append(parsed)
    catalog, occ = matrix.pipeline(parsed, method=args.method)
    catalog = catalog.cache()
    held.append(catalog)
    # Σ size is the line count under every method
    n_lines = catalog.agg(F.sum("size")).first()[0] or 0
    print(f"[ingest] {n_lines} lines from {n_files} container_*.log files")

    reported = catalog
    if args.state:
        cat_path = os.path.join(args.state, "catalog")
        if sinks.has_catalog(cat_path):
            old = sinks.read_catalog(spark, cat_path)
            reported = sinks.accumulate_catalog(old, catalog)
            print(f"[state] accumulated with persisted catalog at {cat_path}")
    if args.ml:
        # resolved before the state is written: a run that exits on a
        # bad target leaves the persisted catalog as it found it
        sizes = dict(reported.select("cluster_id", "size").collect())
        target = _ml_target(sizes, args.target_event)
        if target is None:
            return 2
    if args.state:
        sinks.write_catalog(reported, cat_path)
        if reported is not catalog:
            # the accumulation read the files the write retired
            reported = sinks.read_catalog(spark, cat_path).cache()
            held.append(reported)
        print(f"[state] catalog persisted to {cat_path}")

    matrix_path = _export_matrix(reported, args.out)
    n_events = reported.count()
    print(f"[matrix] {n_events} events -> {matrix_path}")

    # this run's totals, under the reported matrix's ids
    totals = matrix.rekey(
        matrix.event_totals(catalog, occ, args.method), catalog, reported
    ).cache()
    held.append(totals)
    failures = matrix.failure_events(totals)
    print("[stats] failure-event distribution (events with occurrences > 0):")
    for r in failures.orderBy(F.desc("total")).collect():
        print(f"    Event_{r.cluster_id}: {int(r.total)}")
    chart = viz.failure_distribution_data(totals)
    chart_path = os.path.join(args.out, "failure_distribution.csv")
    chart.to_csv(chart_path, index=False)
    print(f"[viz] chart data -> {chart_path}")

    if args.ml:
        occ = matrix.rekey(occ, catalog, reported)
        return _run_ml(list(sizes), target, occ, args, held)
    return 0


def _run_stream(spark, args) -> int:
    """Incremental catch-up run: the streaming twin of ``--state``.

    The file-source checkpoint remembers which ``container_*.log``
    files earlier runs consumed; ``availableNow`` processes exactly the
    new ones, the state store carries running (template, size) counts
    across runs (the distributed drain3_state.bin), and every epoch
    swaps the full updated catalog in through ``sinks.write_catalog``.
    Repeated runs over an unchanged directory are no-ops.
    """
    from .operators import mining
    from .sources import logs, sinks
    from .streaming import mining_stream as ms

    raw = _open_logs(ms.read_log_stream, spark, args.logs_dir)
    if raw is None:
        return 2
    catalog_path = os.path.join(args.state, "stream_catalog")
    q = ms.write_catalog_stream(
        mining.count_templates(logs.parse_lines(raw)),
        catalog_path,
        os.path.join(args.state, "checkpoint"),
        available_now=True,
    )
    q.awaitTermination()
    if not sinks.has_catalog(catalog_path):
        # no run so far consumed a file
        return _no_logs(args.logs_dir)
    cat = sinks.read_catalog(spark, catalog_path)
    matrix_path = _export_matrix(mining.rank_catalog(cat), args.out)
    rows = cat.agg(F.count(F.lit(1)), F.sum("size")).first()
    print(f"[stream] catalog: {rows[0]} templates, {rows[1]} lines total "
          f"(accumulated across runs) -> {matrix_path}")
    return 0


def _ml_target(sizes: dict, target: int | None) -> int | None:
    """The ``--ml`` target event among the reported catalog's
    ``{cluster_id: size}``: ``target`` itself, or the rarest event when
    it is None. None, after a one-line message, when it is not in the
    catalog."""
    if target is None:
        # rarest event stands in for the reference's fixed failure id
        # (target_event=1020, process_logs_v10.py:245)
        target = min(sizes, key=lambda i: (sizes[i], i))
    if target not in sizes:
        print(f"error: target event {target} not in the event catalog",
              file=sys.stderr)
        return None
    return target


def _run_ml(
    event_ids: list[int], target: int, occ: DataFrame, args, held: list[DataFrame]
) -> int:
    """Windowed failure-prediction analytics (process_logs_v10.py:220-447)
    over the reported catalog's ``event_ids``: wide one-hot →
    correlation pruning (>0.7) → ``--window-size``-row tumbling windows
    (sum X / max y)
    → 60/20/20 stratified split → LR + RF metrics & importances →
    isolation forest → PCA(k=2). Returns the exit status."""
    from .ml import anomaly, pipeline as mlp
    from .operators import matrix, windows
    from . import viz

    print(f"[ml] target event: Event_{target}")

    wide = matrix.occurrences_wide(occ, event_ids=event_ids)
    feature_cols = [f"Event_{i}" for i in event_ids if i != target]
    label_col = f"Event_{target}"

    _, pruned_cols = mlp.prune_correlated(wide, feature_cols, threshold=0.7)
    dropped = sorted(set(feature_cols) - set(pruned_cols))
    if dropped:
        print(f"[ml] dropped for |corr|>0.7: {dropped}")

    ordered = _global_line_order(wide)
    win = ordered.withColumn(
        "window_id", F.floor((F.col("_line_idx") - 1) / args.window_size)
    )
    agg = windows.aggregate_windows(win, pruned_cols, label_col).withColumnRenamed(
        label_col, "label"
    )

    # cached: the split, every fit and evaluation, the isolation forest
    # and PCA read it; one window-sized frame, so the splits stay fixed
    assembled = mlp.assemble(agg, pruned_cols).cache()
    held.append(assembled)
    train, val, test = mlp.three_way_split(assembled)
    # the split is a partition of the windows
    n_train, n_val, n_test = train.count(), val.count(), test.count()
    report_lines = [
        f"windows: {n_train + n_val + n_test} (size={args.window_size})",
        f"features after pruning: {len(pruned_cols)}",
        f"split: train={n_train} val={n_val} test={n_test}",
    ]

    lr = mlp.fit_logistic_regression(train)
    lr_val = mlp.evaluate_classifier(lr.transform(val))
    report_lines.append(f"logistic_regression(val): {lr_val}")
    lr_imp = mlp.lr_importances(lr, pruned_cols)
    viz.topk_coefficients_data(lr_imp).to_csv(
        os.path.join(args.out, "lr_coefficients.csv"), index=False
    )

    rf = mlp.fit_random_forest(train)
    rf_test = mlp.evaluate_classifier(rf.transform(test))
    report_lines.append(f"random_forest(test): {rf_test}")
    viz.topk_coefficients_data(mlp.rf_importances(rf, pruned_cols)).to_csv(
        os.path.join(args.out, "rf_importances.csv"), index=False
    )

    scored = anomaly.score_isolation_forest(assembled, pruned_cols)
    top = scored.orderBy(F.desc("anomaly_score")).select(
        "window_id", "anomaly_score"
    ).limit(20).toPandas()
    top.to_csv(os.path.join(args.out, "anomaly_scores.csv"), index=False)
    report_lines.append(
        f"isolation_forest: top score {top.anomaly_score.max():.3f} "
        f"(window {int(top.window_id.iloc[0])})"
    )

    pca_model = mlp.fit_pca(assembled)
    projected = pca_model.transform(assembled)
    viz.pca_scatter_data(projected).to_csv(
        os.path.join(args.out, "pca_projection.csv"), index=False
    )
    report_lines.append(
        f"pca: explained variance {[round(v, 4) for v in pca_model.explainedVariance]}"
    )

    report_path = os.path.join(args.out, "ml_report.txt")
    with open(report_path, "w") as f:
        f.write("\n".join(report_lines) + "\n")
    print("[ml] " + "; ".join(report_lines))
    print(f"[ml] report -> {report_path}")
    return 0


if __name__ == "__main__":
    sys.exit(run())
