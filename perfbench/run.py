"""Benchmark of the paper's CLI pipeline and the textops dedup entries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

Run from the root of a checkout. The workload's inputs are generated
from ``--seed`` under ``.perfbench_work/`` (removed at exit); the
program sees only those files. Every sample is a fresh process on
``local[nproc]`` with ``get_spark``'s defaults, as every CLI call is,
that runs the workload's work ``PASSES`` times. Samples repeat until
``--seconds`` have passed; every pass's outputs are checked. With
``--trace 0`` the end-to-end metrics are medians: ``pipeline_s`` over
the timed passes (see ``PASSES``), ``setup_s`` over the samples. With
``--trace 1`` one sample runs its passes and then the work once more
traced, giving the per-layer metrics and the tracing overhead. The last
stdout line is the result JSON; the line before it holds the
environment, the input sizes and every sample.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "mgl870_tp02_project_01_hadoopmapreducelogs_spark"
sys.path[:0] = [HERE, ROOT]

from spans import SPAN_METRICS  # noqa: E402

#: workload → sample mode; each sample is a fresh process, as a user's
#: CLI call or session is
WORKLOADS = {"cli_exact_state": "cli", "registry_dedup": "registry"}
#: passes of the workload's work per sample process, and how many of
#: them lead ``pipeline_s`` leaves out. A process's first CLI pass pays
#: the JVM's class loading and JIT, takes 2-3x a later one and varies far
#: more between processes, so the warm passes are timed; a registry pass
#: costs too much to repeat within a run, so its one cold pass is. A
#: traced sample runs one untraced warm-up pass, one untraced pass and
#: then the traced pass, so both compared passes are warm.
PASSES = {"cli": 4, "registry": 1}
WARMUP = {"cli": 1, "registry": 0}
#: the exact-method tree: Zipf mix over many templates, a few large files
TREE = {"lines": 200_000, "files": 64, "templates": 800}
#: the drain + ML tree (traced run only): few templates, many small files
SMALL_TREE = {"lines": 6_000, "files": 128, "templates": 8}
#: rows of the generated ``documents`` table (testdata sf0.1 has 5000)
DOCS = 500
SAMPLE_TIMEOUT_S = 165
#: no sample starts if the slowest one so far would end past this
RUN_BUDGET_S = 160

#: peak RSS is reported with every sample but is no metric: the JVM's
#: heap growth makes it vary by up to 3x between runs of the same input
END_TO_END = {"setup_s": "s", "pipeline_s": "s"}
SPANS = [
    "sources.logs.ingest", "operators.mining.mine", "sources.sinks.state",
    "operators.matrix.report", "sources.logs.ingest_small_files",
    "operators.drain.fit", "operators.drain.match", "operators.matrix.wide",
    "operators.stats.prune", "ml.pipeline.windows", "ml.pipeline.split",
    "ml.pipeline.lr", "ml.pipeline.rf", "ml.anomaly.iforest", "ml.pipeline.pca",
    "queries.textops.dedup_ngram_jaccard",
    "queries.textops.dedup_jaccard_budget_recall",
    "queries.textops.pipeline_full_curation",
]
COUNTS = {
    "sources.logs.lines": "count",
    "sources.logs.files": "count",
    "operators.mining.templates": "count",
    "operators.drain.templates": "count",
    "sources.sinks.state_bytes": "bytes",
    **{f"{s}.sort_aggregate_nodes": "count" for s in SPANS if s.startswith("queries.")},
    "queries.persistent_rdds": "count",
}
TRACE_TOTALS = {"trace.traced_s": "s", "trace.untraced_s": "s", "trace.overhead_s": "s"}


def per_layer_metrics() -> dict[str, str]:
    """Every ``--trace 1`` metric name → unit."""
    out = {f"{s}.{m}": u for s in SPANS for m, u in SPAN_METRICS.items()}
    return {**out, **COUNTS, **TRACE_TOTALS}


# --- processes -------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (ppid, rss bytes) for every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # exited while listing
        out[int(d)] = (int(fields[1]), int(fields[21]) * page)
    return out


def tree_rss(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += table.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return total


class PeakRss(threading.Thread):
    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(0.1):
            self.peak = max(self.peak, tree_rss(self.pid))


def _reap_group(pgid: int) -> None:
    """Stop whatever is left in the sample's process group and wait."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.2)
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return


def run_sample(work: str, args: list[str]) -> tuple[dict | None, float, str | None]:
    """One fresh ``sample.py`` process → (result, peak RSS MB, error)."""
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    )
    os.makedirs(env["TMPDIR"], exist_ok=True)
    with open(os.path.join(work, "samples.log"), "a") as log:
        t0 = time.time()
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sample.py"), *args, "--t0", repr(t0)],
            cwd=work, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            start_new_session=True,
        )
        mon = PeakRss(p.pid)
        mon.start()
        try:
            out, _ = p.communicate(timeout=SAMPLE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            return None, 0.0, f"timed out after {SAMPLE_TIMEOUT_S} s"
        finally:
            mon.done.set()
            mon.join()
            _reap_group(p.pid)
    peak = mon.peak / 2**20
    if p.returncode != 0:
        return None, peak, f"exit code {p.returncode} (see samples.log)"
    return json.loads(out.strip().splitlines()[-1]), peak, None


# --- workloads -------------------------------------------------------------


def _write_state(expected, path: str) -> None:
    """The ``--state`` catalog a run over the tree would have written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    templates = sorted(expected)
    os.makedirs(path)
    pq.write_table(pa.table({
        "cluster_id": pa.array(range(1, len(templates) + 1), pa.int64()),
        "size": pa.array([expected[t] for t in templates], pa.int64()),
        "template": templates,
        "template_hash": [hashlib.sha256(t.encode()).hexdigest() for t in templates],
    }), os.path.join(path, "part-00000.parquet"))


def _passes(mode: str, trace: bool) -> str:
    return str(2 if trace else PASSES[mode])


class CliWorkload:
    """``run([tree, --out, o, --state, st])`` with ``st`` reset before
    every pass to a state seeded with the tree's own catalog, so each
    pass reads, accumulates and overwrites the same catalog."""

    def __init__(self, work: str, seed: int, trace: bool):
        import gen_logs
        import oracle

        self.work, self.oracle = work, oracle
        self.tree = os.path.join(work, "tree")
        self.inputs = gen_logs.generate(self.tree, seed, **TREE)
        self.expected = oracle.expected_catalog(self.tree)
        self.inputs["distinct_templates"] = len(self.expected)
        self.seed_state = os.path.join(work, "seed_state")
        _write_state(self.expected, os.path.join(self.seed_state, "catalog"))
        if trace:
            self.small_tree = os.path.join(work, "small_tree")
            self.inputs["small_tree"] = gen_logs.generate(self.small_tree, seed, **SMALL_TREE)

    def _matrix(self, out: str) -> str:
        return next(os.path.join(out, f) for f in sorted(os.listdir(out))
                    if f.startswith("event_matrix_exec"))

    def sample(self, i: int, trace: bool) -> tuple[dict | None, float, str | None]:
        out = os.path.join(self.work, f"out{i}_")
        args = ["cli", "--tree", self.tree, "--out", out, "--seed-state", self.seed_state,
                "--state", os.path.join(self.work, "state"), "--passes", _passes("cli", trace)]
        if trace:
            args += ["--trace", "--small-tree", self.small_tree]
        res, peak, err = run_sample(self.work, args)
        if err is None and res["rc"] != 0:
            err = f"CLI returned {res['rc']}"
        if err is None:
            err = next(filter(None, (
                self.oracle.check_matrix(self._matrix(f"{out}{p}"), self.expected, runs=2)
                for p in range(len(res["passes_s"])))), None)
        if err is None and trace:
            err = self._check_traced(res, out)
        return res, peak, err

    def _check_traced(self, res: dict, out: str) -> str | None:
        traced = self._matrix(f"{out}traced")
        err = self.oracle.check_matrix(traced, self.expected, runs=2)
        if err is None and (self.oracle.read_matrix_csv(traced)
                            != self.oracle.read_matrix_csv(self._matrix(f"{out}0"))):
            err = "traced and untraced catalogs differ"
        if err is None and res["drain_size"] != SMALL_TREE["lines"]:
            err = f"drain catalog sums to {res['drain_size']}, not {SMALL_TREE['lines']}"
        if err is None and any(m.get("accuracy") is None for m in res["ml_metrics"].values()):
            err = f"classifier metrics missing: {res['ml_metrics']}"
        return err


class RegistryWorkload:
    """The three textops entries in order, in one session, on a
    generated ``documents`` table; each result is checked against the
    entry's DuckDB oracle."""

    def __init__(self, work: str, seed: int, trace: bool):
        import gen_docs
        import oracle
        from sample import ENTRIES

        self.work = work
        self.sf_dir = os.path.join(work, "sf")
        self.inputs = gen_docs.generate(self.sf_dir, seed, DOCS)
        self.want = oracle.duckdb_digests(self.sf_dir, ENTRIES)

    def _check(self, digests: dict) -> str | None:
        bad = [n for n, d in self.want.items() if digests.get(n) != d]
        return f"results differ from the oracle: {bad}" if bad else None

    def sample(self, i: int, trace: bool) -> tuple[dict | None, float, str | None]:
        sf_dir = os.path.join(self.work, f"sf{i}")
        shutil.copytree(self.sf_dir, sf_dir)
        args = ["registry", "--sf-dir", sf_dir, "--passes", _passes("registry", trace)]
        res, peak, err = run_sample(self.work, [*args, "--trace"] if trace else args)
        return res, peak, err or next(filter(None, map(self._check, res["digests"])), None)


def bench(name: str, seed: int, seconds: float, trace: bool) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _bench(name, work, seed, seconds, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def _bench(name: str, work: str, seed: int, seconds: float, trace: bool) -> dict:
    wl = (CliWorkload if WORKLOADS[name] == "cli" else RegistryWorkload)(work, seed, trace)
    start, slowest, samples, errors = time.monotonic(), 0.0, [], []
    while True:
        t = time.monotonic()
        res, peak, err = wl.sample(len(samples) + len(errors), trace)
        slowest = max(slowest, time.monotonic() - t)
        if err is None:
            samples.append({"setup_s": res["setup_s"], "passes_s": res["passes_s"],
                            "peak_rss_mb": peak})
        else:
            errors.append(err)
        done = len(samples) + len(errors)
        elapsed = time.monotonic() - start
        if trace or elapsed >= seconds or elapsed + slowest > RUN_BUDGET_S:
            break
    report = {
        "workload": name, "seed": seed, "inputs": wl.inputs,
        "env": {"nproc": len(os.sched_getaffinity(0)), "ram_gb": _ram_gb(),
                "python": platform.python_version(),
                **({k: res[k] for k in ("master", "spark", "java")} if res else {})},
        "samples": samples, "errors": errors,
        "attempted": done, "failed": len(errors), "error_rate": len(errors) / done,
    }
    if not samples:
        return report
    warmup = 1 if trace else WARMUP[WORKLOADS[name]]
    timed = [p for s in samples for p in s["passes_s"][warmup:]]
    if not trace:
        values = {
            "setup_s": statistics.median(s["setup_s"] for s in samples),
            "pipeline_s": statistics.median(timed),
        }
        report["metrics"] = {m: {"value": values[m], "unit": u} for m, u in END_TO_END.items()}
        report["sample_counts"] = {"setup_s": len(samples), "pipeline_s": len(timed)}
        return report
    values = {f"{s}.{m}": v for s, ms in res["spans"].items() for m, v in ms.items()}
    values.update(res["counts"])
    untraced = statistics.median(timed)
    values.update({"trace.traced_s": res["traced_s"], "trace.untraced_s": untraced,
                   "trace.overhead_s": res["traced_s"] - untraced})
    report["spans"] = res["spans"]
    report["metrics"] = {m: {"value": values.get(m, 0), "unit": u}
                         for m, u in per_layer_metrics().items()}
    return report


def _ram_gb() -> float:
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return round(kb / 2**20, 1)


def _summary(r: dict) -> str:
    parts = [f"{r['workload']}: error_rate {r['error_rate']:g} "
             f"({r['failed']}/{r['attempted']} failed)"]
    for m in END_TO_END:
        if m in r.get("metrics", {}):
            v = r["metrics"][m]
            parts.append(f"{m} {v['value']:.4g} {v['unit']} "
                         f"(median of {r['sample_counts'][m]})")
    if r["samples"]:
        rss = [s["peak_rss_mb"] for s in r["samples"]]
        parts.append(f"peak_rss_mb {statistics.median(rss):.0f} MB (median of {len(rss)})")
    return "; ".join(parts)


def main() -> int:
    ap = argparse.ArgumentParser(description="log-analytics benchmark")
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__main__.py")):
        print(f"perfbench: no {PKG} package beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    reports = [bench(n, a.seed, a.seconds, bool(a.trace)) for n in names]
    for r in reports:
        print(_summary(r))
    print(json.dumps(reports if a.workload == "all" else reports[0]))
    if any("metrics" not in r for r in reports):
        print(f"perfbench: no sample succeeded: {[r['errors'] for r in reports]}",
              file=sys.stderr)
        return 1
    if a.workload == "all":
        return 0
    r = reports[0]
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": r["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
