"""The paper's pipeline fixes its constants in code (window size 5,
|corr| > 0.7, LR max_iter=1000, RF 100 trees with seed 42,
contamination=0.1, PCA k=2, a top-10 chart: process_logs_v10.py:220-447).
The modules under the CLI keep them as module constants; a public
function takes a defaulted parameter only where a caller sets it."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "mgl870_tp02_project_01_hadoopmapreducelogs_spark"

MODULES = [
    "sources/logs", "sources/sinks", "functions/preprocess",
    "operators/mining", "operators/matrix", "operators/windows",
    "operators/stats", "operators/graph", "ml/pipeline", "ml/anomaly",
    "viz", "streaming/mining_stream",
]

#: the defaulted parameters that stay: the CLI or the registry entries
#: set them to different values, ``perfbench/`` passes them, or (``ax``)
#: they follow matplotlib's convention
ALLOWED = {
    "operators/matrix.summary_matrix(reference_names)",
    "operators/matrix.occurrences_wide(event_ids)",
    "operators/matrix.event_totals(method)",
    "operators/matrix.pipeline(method)",
    "operators/windows.global_row_number(num_buckets)",
    "operators/stats.correlated_columns(threshold)",
    "ml/pipeline.prune_correlated(threshold)",
    "ml/pipeline.stratified_split(test_frac)",
    "ml/pipeline.stratified_split(seed)",
    "ml/pipeline.fit_pca(k)",
    "ml/anomaly.IsolationForest(n_trees)",
    "ml/anomaly.score_isolation_forest(n_trees)",
    "viz.plot_failure_distribution(ax)",
    "streaming/mining_stream.read_log_stream(max_files_per_trigger)",
    "streaming/mining_stream.run_to_memory(mode)",
    "streaming/mining_stream.write_catalog_stream(available_now)",
}


def _knobs(module: str) -> set[str]:
    """``module.func(param)`` for every defaulted parameter and every
    ``**kwargs`` of the module's public functions and public class
    constructors."""
    tree = ast.parse((PKG / f"{module}.py").read_text())
    found = set()
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            fns = [node]
        elif isinstance(node, ast.ClassDef):
            fns = [b for b in node.body
                   if isinstance(b, ast.FunctionDef) and b.name == "__init__"]
        else:
            continue
        if node.name.startswith("_"):
            continue
        for f in fns:
            a = f.args
            pos = a.posonlyargs + a.args
            named = pos[len(pos) - len(a.defaults):] + [
                k for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            ]
            found |= {f"{module}.{node.name}({p.arg})" for p in named}
            if a.kwarg:
                found.add(f"{module}.{node.name}(**{a.kwarg.arg})")
    return found


def test_pipeline_modules_take_no_unused_knobs():
    knobs = set().union(*map(_knobs, MODULES))
    assert knobs == ALLOWED, (
        f"unexpected: {sorted(knobs - ALLOWED)}; gone: {sorted(ALLOWED - knobs)}"
    )
