"""Output checks for the benchmark, independent of Spark.

``expected_catalog`` applies the CLI's masking chain to every generated
line with Python's ``re``, so the exact-method template catalog of a
tree is known without running the program. The timestamp, level,
thread and mask regexes are imported from ``functions.preprocess``;
the logger-prefix regex is a copy of the one ``extract_message`` there
writes inline (the package exposes no constant for it), so a change to
that regex must be copied here too. The checks compare the program's
outputs against it and against the values a run recorded at set-up.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import math
import os
import re
from collections import Counter
from concurrent.futures import ProcessPoolExecutor

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.functions import preprocess as P

_TS = re.compile(P.TS_PREFIX)
_LEVEL = re.compile(P.LEVEL)
_THREAD = re.compile(P.THREAD)
_LOGGER = re.compile(r"^\s*(?:[a-zA-Z_$][\w$]*\.){2,}[A-Z][\w$]*:\s*")
_WS = re.compile(r"\s+")
_MASKS = [re.compile(p) for _, p in P.MASK_RULES]


def mask_line(line: str) -> str:
    """The ``masked`` column of ``sources.logs.parse_lines`` for one line."""
    msg = _THREAD.sub("", _LEVEL.sub("", _TS.sub("", line, count=1)))
    msg = _WS.sub(" ", _LOGGER.sub("", msg, count=1)).strip(" ")
    for rx in _MASKS:
        msg = rx.sub(P.MASK_TOKEN, msg)
    return msg


def container_logs(tree: str) -> list[str]:
    return sorted(glob.glob(os.path.join(tree, "**", "container_*.log"), recursive=True))


def _file_catalog(path: str) -> Counter:
    with open(path) as f:
        return Counter(mask_line(line.rstrip("\n")) for line in f)


def expected_catalog(tree: str) -> Counter:
    """template → line count over every ``container_*.log`` under
    ``tree``, masked by up to four processes."""
    out: Counter = Counter()
    with ProcessPoolExecutor(min(4, len(os.sched_getaffinity(0)))) as ex:
        for c in ex.map(_file_catalog, container_logs(tree)):
            out.update(c)
    return out


def read_matrix_csv(path: str) -> Counter:
    """template → Size from the CLI's ``event_matrix_exec*.csv``; raises
    ``ValueError`` on a malformed file."""
    out: Counter = Counter()
    with open(path, newline="") as f:
        rows = csv.reader(f)
        if next(rows, None) != ["Cluster ID", "Size", "Template"]:
            raise ValueError(f"{path}: bad header")
        for n, row in enumerate(rows, 1):
            if len(row) != 3 or int(row[0]) != n:
                raise ValueError(f"{path}: bad row {n}: {row!r}")
            out[row[2]] += int(row[1])
    return out


def check_matrix(csv_path: str, expected: Counter, runs: int) -> str | None:
    """None if the matrix holds exactly ``runs`` × the expected sizes,
    else the first difference found."""
    try:
        got = read_matrix_csv(csv_path)
    except (OSError, ValueError) as e:
        return str(e)
    want_total = runs * sum(expected.values())
    if sum(got.values()) != want_total:
        return f"sum of Size {sum(got.values())} != {want_total}"
    if set(got) != set(expected):
        return f"template set differs: {len(set(got) ^ set(expected))} templates"
    bad = next((t for t in expected if got[t] != runs * expected[t]), None)
    return None if bad is None else f"size of {bad!r}: {got[bad]}"


def duckdb_digests(sf_dir: str, names: list[str]) -> dict[str, str]:
    """Digest of each registry entry's DuckDB oracle SQL over
    ``<sf_dir>/documents.parquet``: the values every Spark run must hit."""
    import duckdb

    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        out = {}
        for name in names:
            res = con.sql(REGISTRY[name].oracle)
            out[name] = rows_digest(list(res.columns), res.fetchall())
        return out
    finally:
        con.close()


def _canon(v) -> str:
    """One spelling per value for Spark and DuckDB rows alike."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return str(int(v)) if v == int(v) and abs(v) < 1e15 else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def rows_digest(columns: list[str], rows) -> str:
    """``<row count>:<hash>`` of a result, independent of row and column
    order (columns sorted by name, per-row hashes summed)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    for r in rows:
        key = "\x1f".join(_canon(r[i]) for i in order)
        acc += int.from_bytes(hashlib.sha256(key.encode()).digest()[:8], "big")
    return f"{len(rows)}:{acc % 2**64:016x}"
