"""Dump ``explain("formatted")`` for named registry entries into
<outdir>/<entry>_<tag>.txt — the before/after plan evidence for the
optimization rounds.

Usage: python scripts/dump_entry_plan.py <outdir> <tag> <sf_dir> <entry> [...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


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
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = REGISTRY[name].run(spark, sf_dir)
        out = f"{outdir}/{name}_{tag}.txt"
        with open(out, "w") as f:
            f.write(f"-- {name} [{tag}] over {sf_dir}\n")
            f.write(explain_str(df, "formatted"))
        print(f"wrote {out}")


if __name__ == "__main__":
    main()
