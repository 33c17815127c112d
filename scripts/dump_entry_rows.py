"""Write one canonical row digest per registry entry into
<outdir>/<entry>_<tag>.txt — the row evidence that a refactor leaves an
entry's result unchanged.

Each digest holds the column names, the row count and the sha256 of the
rows in the oracle gate's canonical form (``canon`` from
``scripts/check_oracle.py``: columns sorted by name, values stringified,
rows sorted), so it is independent of row order and of partitioning.
Dump the same entries with the same tag in two checkouts and compare
with a plain ``diff -r``, as with ``dump_entry_plan.py`` for plans.

Usage: python scripts/dump_entry_rows.py <outdir> <tag> <sf_dir> <entry> [...]
"""

from __future__ import annotations

import hashlib
import os
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))
sys.path.insert(0, _HERE)

from check_oracle import canon  # noqa: E402


def digest(cols: list[str], rows: list[tuple]) -> str:
    """The digest text of one result: sorted column names, row count
    and the sha256 of the sorted canonical rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted("\t".join(canon(r[i]) for i in order) for r in rows)
    sha = hashlib.sha256("\n".join(body).encode()).hexdigest()
    names = ",".join(cols[i] for i in order)
    return f"columns: {names}\nrows: {len(rows)}\nsha256: {sha}\n"


def main() -> None:
    if len(sys.argv) < 5:
        sys.exit(__doc__.strip().splitlines()[-1])
    outdir, tag, sf_dir, *names = sys.argv[1:]
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import (
        REGISTRY,
    )
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.session import (
        get_spark,
        quiet_bounded_window_warns,
    )

    spark = get_spark(app_name="dump-entry-rows")
    quiet_bounded_window_warns(spark)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = REGISTRY[name].run(spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        out = f"{outdir}/{name}_{tag}.txt"
        with open(out, "w") as f:
            f.write(f"-- {name} [{tag}] over {sf_dir}\n")
            f.write(digest(df.columns, rows))
        print(f"wrote {out}")


if __name__ == "__main__":
    main()
