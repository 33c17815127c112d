"""End-to-end CLI (python -m …) — the reference's one-command flow."""

import csv
import glob
import random
import re

import pytest

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.__main__ import (
    _global_line_order,
    run,
)
from mgl870_tp02_project_01_hadoopmapreducelogs_spark.operators import matrix
from mgl870_tp02_project_01_hadoopmapreducelogs_spark.sources import logs, sinks


def _write_corpus(root):
    app = root / "application_0001"
    app.mkdir(parents=True)
    msgs = [
        "Starting task {i}",
        "Progress of attempt_{i} is 0.{i}",
        "Failed to renew lease for client_{i}",
    ]
    for c in range(2):
        with open(app / f"container_0001_01_{c:06d}.log", "w") as f:
            for i in range(60):
                m = msgs[i % 3].format(i=i)
                f.write(
                    f"2024-11-20 13:{i % 60:02d}:00,000 INFO [main] a.b.C: {m}\n"
                )
    (app / "decoy.txt").write_text("not a log\n")


def _matrix_rows(out_dir):
    path = glob.glob(str(out_dir / "event_matrix_exec*.csv"))[0]
    with open(path) as f:
        rows = list(csv.DictReader(f))
    return rows


def test_cli_mines_and_accumulates_state(spark, tmp_path):
    corpus = tmp_path / "logs"
    _write_corpus(corpus)
    out1, out2 = tmp_path / "out1", tmp_path / "out2"
    state = tmp_path / "state"

    assert run([str(corpus), "--out", str(out1), "--state", str(state)]) == 0
    rows1 = _matrix_rows(out1)
    # reference golden header (event_matrix_exec202411230733PM.csv:1)
    assert set(rows1[0]) == {"Cluster ID", "Size", "Template"}
    assert sum(int(r["Size"]) for r in rows1) == 120  # Σsize = line count
    assert len(rows1) == 3

    # second run over the same corpus: drain3_state.bin accumulate
    # semantics — persisted sizes double, template set unchanged
    assert run([str(corpus), "--out", str(out2), "--state", str(state)]) == 0
    rows2 = _matrix_rows(out2)
    assert sum(int(r["Size"]) for r in rows2) == 240
    assert {r["Template"] for r in rows2} == {r["Template"] for r in rows1}
    # chart data extracted at the viz edge
    assert (out2 / "failure_distribution.csv").exists()


def test_cli_stream_incremental_catchup(spark, tmp_path):
    """--stream: the checkpoint remembers consumed files; a second run
    processes ONLY the new file and the state store accumulates."""
    corpus = tmp_path / "logs"
    _write_corpus(corpus)
    state = tmp_path / "state"
    out1, out2 = tmp_path / "s1", tmp_path / "s2"

    assert run([str(corpus), "--out", str(out1), "--state", str(state),
                "--stream"]) == 0
    assert sum(int(r["Size"]) for r in _matrix_rows(out1)) == 120

    extra = corpus / "application_0001" / "container_0001_01_000099.log"
    with open(extra, "w") as f:
        for i in range(10):
            f.write(f"2024-11-20 14:00:{i:02d},000 WARN [main] a.b.C: Novel event {i}\n")
    assert run([str(corpus), "--out", str(out2), "--state", str(state),
                "--stream"]) == 0
    rows = _matrix_rows(out2)
    assert sum(int(r["Size"]) for r in rows) == 130
    assert any(r["Template"] == "Novel event <*>" for r in rows)

    # every file already consumed: a no-op run, not an empty tree
    out3 = tmp_path / "s3"
    assert run([str(corpus), "--out", str(out3), "--state", str(state),
                "--stream"]) == 0
    assert sum(int(r["Size"]) for r in _matrix_rows(out3)) == 130


def test_cli_stream_empty_log_tree_exits_2(spark, tmp_path, capsys):
    empty = tmp_path / "empty"
    empty.mkdir()
    assert run([str(empty), "--out", str(tmp_path / "out"),
                "--state", str(tmp_path / "state"), "--stream"]) == 2
    assert f"error: no container_*.log files under {empty}\n" in capsys.readouterr().err


def test_cli_stream_missing_log_dir_exits_2(spark, tmp_path, capsys):
    missing = tmp_path / "missing"
    assert run([str(missing), "--out", str(tmp_path / "out"),
                "--state", str(tmp_path / "state"), "--stream"]) == 2
    assert f"error: log directory not found: {missing}\n" in capsys.readouterr().err


@pytest.mark.parametrize(
    "extra", [["--ml"], ["--target-event", "1"], ["--method", "drainish"],
              ["--method", "drain"]],
)
def test_cli_stream_rejects_options_it_cannot_honour(tmp_path, capsys, extra):
    """``--stream`` exports the exact catalog only; an option it would
    silently ignore is a usage error, before any Spark work."""
    with pytest.raises(SystemExit) as e:
        run([str(tmp_path / "logs"), "--out", str(tmp_path / "out"),
             "--state", str(tmp_path / "state"), "--stream", *extra])
    assert e.value.code == 2
    assert "--stream mines with --method exact" in capsys.readouterr().err


def test_cli_state_repairs_an_interrupted_catalog_swap(spark, tmp_path):
    """A run that died between the catalog writer's two renames leaves
    no live catalog but a complete staged one: the next run must
    accumulate onto it, not start over."""
    corpus = tmp_path / "logs"
    _write_corpus(corpus)
    state = tmp_path / "state"
    cat = state / "catalog"
    assert run([str(corpus), "--out", str(tmp_path / "o1"), "--state", str(state)]) == 0
    cat.rename(state / "catalog.staging")
    assert (state / "catalog.staging" / "_SUCCESS").exists()

    out = tmp_path / "o2"
    assert run([str(corpus), "--out", str(out), "--state", str(state)]) == 0
    assert sum(int(r["Size"]) for r in _matrix_rows(out)) == 240
    assert sorted(p.name for p in state.iterdir()) == ["catalog"]


def _write_lines(path, messages):
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        for m in messages:
            f.write(f"2024-11-20 13:00:00,000 INFO [main] a.b.C: {m}\n")


def _chart_rows(out_dir):
    with open(out_dir / "failure_distribution.csv") as f:
        return [(int(r["cluster_id"]), float(r["total"])) for r in csv.DictReader(f)]


def test_cli_state_chart_carries_the_matrix_ids(spark, tmp_path):
    """Under --state the matrix numbers the accumulated catalog; the
    chart holds this run's totals under those same ids."""
    state = tmp_path / "state"
    _write_lines(tmp_path / "a" / "container_1.log", ["Alpha started"] * 2)
    _write_lines(tmp_path / "b" / "container_1.log",
                 ["Zeta stopped"] * 5 + ["Omega ready"] * 3)
    assert run([str(tmp_path / "a"), "--out", str(tmp_path / "o1"),
                "--state", str(state)]) == 0
    out = tmp_path / "o2"
    assert run([str(tmp_path / "b"), "--out", str(out), "--state", str(state)]) == 0
    ids = {r["Template"]: int(r["Cluster ID"]) for r in _matrix_rows(out)}
    assert ids == {"Alpha started": 1, "Omega ready": 2, "Zeta stopped": 3}
    assert _chart_rows(out) == [(2, 3.0), (3, 5.0)]


def test_cli_releases_only_what_it_persisted(spark, tmp_path):
    corpus = tmp_path / "logs"
    _write_corpus(corpus)
    mine = spark.range(10).cache()
    mine.count()
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    for i in range(3):  # the first run writes the state, the others accumulate
        assert run([str(corpus), "--out", str(tmp_path / f"o{i}"),
                    "--state", str(tmp_path / "state")]) == 0
        assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before
    assert mine.storageLevel.useMemory
    mine.unpersist()


def test_cli_empty_log_tree_exits_2(spark, tmp_path, capsys):
    empty = tmp_path / "empty"
    empty.mkdir()
    assert run([str(empty), "--out", str(tmp_path / "out"), "--ml"]) == 2
    assert f"error: no container_*.log files under {empty}\n" in capsys.readouterr().err


def test_cli_missing_log_dir_exits_2(spark, tmp_path, capsys):
    missing = tmp_path / "missing"
    assert run([str(missing), "--out", str(tmp_path / "out")]) == 2
    assert f"error: log directory not found: {missing}\n" in capsys.readouterr().err


def test_cli_window_size_below_1_is_a_usage_error(spark, tmp_path, capsys):
    corpus = tmp_path / "logs"
    _write_corpus(corpus)
    with pytest.raises(SystemExit) as e:
        run([str(corpus), "--out", str(tmp_path / "out"), "--ml", "--window-size", "0"])
    assert e.value.code == 2
    assert "--window-size must be at least 1" in capsys.readouterr().err


def test_cli_unknown_target_event_exits_2(spark, tmp_path, capsys):
    corpus = tmp_path / "logs"
    _write_corpus(corpus)
    out = tmp_path / "out"
    assert run([str(corpus), "--out", str(out), "--ml", "--target-event", "99"]) == 2
    assert "error: target event 99 not in the event catalog\n" in capsys.readouterr().err
    assert not (out / "ml_report.txt").exists()


def test_cli_state_unchanged_by_a_bad_target_event(spark, tmp_path):
    """A ``--state --ml`` run that exits on an unknown target must not
    have added its lines to the state, or a retry double-counts."""
    corpus = tmp_path / "logs"
    _write_corpus(corpus)
    state = tmp_path / "state"

    def persisted_lines():
        return sinks.read_catalog(spark, str(state / "catalog")).agg(
            {"size": "sum"}).first()[0]

    assert run([str(corpus), "--out", str(tmp_path / "o1"), "--state", str(state)]) == 0
    assert persisted_lines() == 120
    assert run([str(corpus), "--out", str(tmp_path / "o2"), "--state", str(state),
                "--ml", "--target-event", "99"]) == 2
    assert persisted_lines() == 120


def test_global_line_order_numbers_lines_across_files(spark, tmp_path):
    """``_line_idx`` runs 1..N with no gap, in (file, line_no) order,
    over files of unequal sizes."""
    sizes = {"a": 7, "b": 1, "c": 13}
    for name, n in sizes.items():
        _write_lines(tmp_path / "logs" / name / f"container_{name}.log",
                     [f"line {i}" for i in range(n)])
    parsed = logs.parse_lines(logs.read_log_dir(spark, str(tmp_path / "logs")))
    rows = _global_line_order(parsed.repartition(3)).select(
        "file", "line_no", "_line_idx").collect()
    ordered = sorted(rows, key=lambda r: (r.file, r.line_no))
    assert [r._line_idx for r in ordered] == list(range(1, sum(sizes.values()) + 1))


def _executions(spark):
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {lst.apply(i).executionId() for i in range(lst.size())}


def _line_scan_report(spark, execution_ids):
    """(executions whose text scan produced rows, InMemoryRelation
    column lists that hold the per-line ``line_no``)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    scans, line_caches = set(), []
    for eid in sorted(execution_ids):
        metrics = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if not node.name().startswith("Scan text"):
                continue
            ms = node.metrics()
            for j in range(ms.size()):
                if ms.apply(j).name() == "number of output rows":
                    rows = metrics.get(ms.apply(j).accumulatorId())
                    if rows.isDefined() and rows.get() != "0":
                        scans.add(eid)
        desc = store.execution(eid).get().physicalPlanDescription()
        line_caches += [a for a in re.findall(r"InMemoryRelation\nArguments: \[([^\]]*)\]", desc)
                        if "line_no#" in a]
    return scans, line_caches


def test_exact_run_reads_the_lines_once(spark, log_dir, tmp_path):
    before = _executions(spark)
    assert run([log_dir, "--out", str(tmp_path / "out"),
                "--state", str(tmp_path / "state")]) == 0
    scans, line_caches = _line_scan_report(spark, _executions(spark) - before)
    assert len(scans) == 1
    assert line_caches == []


@pytest.mark.parametrize("method", ["exact", "drainish"])
def test_catalog_sizes_are_the_event_counts(spark, log_dir, method):
    """The invariant event_totals relies on, continuation lines included."""
    parsed = logs.parse_lines(logs.read_log_dir(spark, log_dir))
    catalog, occ = matrix.pipeline(parsed, method=method)
    counts = sorted(map(tuple, matrix.event_counts(occ).collect()))
    assert counts == sorted((r.cluster_id, float(r.size)) for r in catalog.collect())
    assert sorted(map(tuple, matrix.event_totals(catalog, occ, method).collect())) == counts


@pytest.mark.parametrize("method", ["drainish", "drain"])
def test_cli_methods_conserve_lines(spark, tmp_path, capsys, method):
    corpus = tmp_path / "logs"
    _write_corpus(corpus)
    out = tmp_path / "out"
    assert run([str(corpus), "--out", str(out), "--method", method]) == 0
    # drain caches the lines; the file count comes from the scan's listing
    assert "[ingest] 120 lines from 2 container_*.log files" in capsys.readouterr().out
    assert sum(int(r["Size"]) for r in _matrix_rows(out)) == 120
    assert sum(t for _, t in _chart_rows(out)) == 120


def test_cli_drain_ml_reports_both_classifiers(spark, tmp_path):
    # 40 windows of 5 lines, the lease failure (the rarest event, so
    # the default target) placed at random
    rng = random.Random(5)
    kinds = ["Failed to renew lease for client_{i}", "Progress of attempt_{i} is 0.{i}",
             "Slow read took {i}ms", "Connection reset by peer", "Starting task {i}"]
    corpus = tmp_path / "logs" / "container_1.log"
    _write_lines(corpus, [rng.choices(kinds, weights=[1, 4, 3, 3, 9])[0].format(i=i)
                          for i in range(200)])
    out = tmp_path / "out"
    sc = spark.sparkContext
    sc.setJobGroup("drain-ml", "drain --ml")
    try:
        assert run([str(corpus.parent), "--out", str(out), "--method", "drain", "--ml"]) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    # 103 jobs on 4 cores; a label collect and an all-column anti-join
    # per split level, or one evaluator pass per metric, take it past 140
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("drain-ml"))
    assert n_jobs <= 120, n_jobs
    report = (out / "ml_report.txt").read_text()
    for model in ("logistic_regression(val)", "random_forest(test)"):
        line = next(x for x in report.splitlines() if x.startswith(model))
        assert "'accuracy': None" not in line and "'accuracy': " in line
