"""Dump ``explain("formatted")`` for named registry entries into
<outdir>/<entry>_<tag>.txt — the before/after plan evidence for the
optimization rounds.

Ids that change from run to run are replaced before a plan is written
(expression ids ``#123``, ``plan_id=``, RDD ids, generated lambda
variable suffixes, spark.ml stage uids such as
``VectorAssembler_40e266417fbe``, temp paths, and the checkout's own
warehouse directory), so two dumps of the same code are byte-identical and a
before/after comparison of two checkouts is a plain ``diff -r``.

Usage: python scripts/dump_entry_plan.py <outdir> <tag> <sf_dir> <entry> [...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: (pattern, replacement) for every run-dependent id in a formatted plan
_VOLATILE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"([A-Z][A-Za-z]+)_[0-9a-f]{12}\b"), r"\1_N"),
    (re.compile(r"(?:file:)?/tmp/[^\s,\]\)]+"), "<tmp>"),
]


def normalize(plan: str, warehouse: str) -> str:
    """The plan text with every run-dependent id replaced, and the
    ``warehouse`` path (it lives under each checkout) shortened."""
    plan = plan.replace(warehouse.removeprefix("file:"), "<warehouse>")
    for pat, repl in _VOLATILE:
        plan = pat.sub(repl, plan)
    return plan


def main() -> None:
    if len(sys.argv) < 5:
        sys.exit(__doc__.strip().splitlines()[-1])
    outdir, tag, sf_dir, *names = sys.argv[1:]
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.plans import (
        explain_str,
    )
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import (
        REGISTRY,
    )
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.session import (
        get_spark,
        quiet_bounded_window_warns,
    )

    spark = get_spark(app_name="dump-entry-plan")
    quiet_bounded_window_warns(spark)
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = REGISTRY[name].run(spark, sf_dir)
        out = f"{outdir}/{name}_{tag}.txt"
        with open(out, "w") as f:
            f.write(f"-- {name} [{tag}] over {sf_dir}\n")
            f.write(normalize(explain_str(df, "formatted"), warehouse))
        print(f"wrote {out}")


if __name__ == "__main__":
    main()
