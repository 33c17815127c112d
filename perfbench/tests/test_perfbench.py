"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import gen_logs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SMALL = {"lines": 400, "files": 5, "templates": 30}


def _tree(tmp_path, name: str, seed: int) -> str:
    out = str(tmp_path / name)
    gen_logs.generate(out, seed, **SMALL)
    return out


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    a, b, c = (_tree(tmp_path, n, s) for n, s in [("a", 5), ("b", 5), ("c", 6)])
    files = [os.path.relpath(p, a) for p in oracle.container_logs(a)]
    assert len(files) == SMALL["files"]
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert (mismatch, errors) == ([], []) and len(match) == len(files)
    assert filecmp.cmpfiles(a, c, files, shallow=False)[1], "another seed, other logs"


def test_generator_writes_the_requested_lines_with_stack_traces(tmp_path):
    tree = _tree(tmp_path, "t", 7)
    lines = [ln for p in oracle.container_logs(tree) for ln in open(p).read().splitlines()]
    assert len(lines) == SMALL["lines"]
    assert any(ln.startswith("\tat ") for ln in lines)
    assert sum(oracle.expected_catalog(tree).values()) == SMALL["lines"]


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_emitted_metric_is_declared_in_benchmark_json():
    spec = _benchmark_json()
    name_ok = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    declared = {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    emitted = {"end_to_end": run.END_TO_END, "per_layer": run.per_layer_metrics()}
    for kind, metrics in emitted.items():
        assert all(name_ok.fullmatch(n) for n in metrics), kind
        assert metrics == declared[kind], kind
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def _write_matrix(path: str, catalog: Counter, runs: int) -> None:
    with open(path, "w") as f:
        f.write("Cluster ID,Size,Template\n")
        for i, t in enumerate(sorted(catalog), 1):
            f.write(f"{i},{runs * catalog[t]},{t}\n")


def test_matrix_check_rejects_a_corrupted_event_matrix(tmp_path):
    expected = oracle.expected_catalog(_tree(tmp_path, "t", 8))
    good = str(tmp_path / "good.csv")
    _write_matrix(good, expected, runs=2)
    assert oracle.check_matrix(good, expected, runs=2) is None
    assert oracle.check_matrix(good, expected, runs=1) is not None

    rows = open(good).read().splitlines()
    corruptions = {
        "size": rows[:1] + [re.sub(r"^(\d+),(\d+),", r"\1,999999,", rows[1])] + rows[2:],
        "dropped_row": rows[:1] + rows[2:],
        "template": rows[:1] + [rows[1] + " extra"] + rows[2:],
        "truncated": rows[: len(rows) // 2],
        "header": ["Event,Size,Template"] + rows[1:],
    }
    for what, body in corruptions.items():
        bad = tmp_path / f"{what}.csv"
        bad.write_text("\n".join(body) + "\n")
        assert oracle.check_matrix(str(bad), expected, runs=2) is not None, what


def test_rows_digest_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, "b", 1.0)]
    swapped = [(r[2], r[1], r[0]) for r in reversed(rows)]
    assert oracle.rows_digest(["x", "y", "z"], rows) == oracle.rows_digest(
        ["z", "y", "x"], swapped)
    assert oracle.rows_digest(["x", "y", "z"], rows[:1]) != oracle.rows_digest(
        ["x", "y", "z"], rows)
