"""The Python workers need pyspark, numpy and pandas, not this package.

Workers inherit the driver's cwd, not its ``sys.path``, so a script run
from elsewhere with the repo only on ``sys.path`` has a driver that can
import the package and workers that cannot. The Drain match, the Drain
stream's leaves and the isolation-forest scoring must still run there.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})

    from pyspark.sql import functions as F

    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.ml import anomaly
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.operators import drain
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.session import get_spark
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.sources import logs
    from mgl870_tp02_project_01_hadoopmapreducelogs_spark.streaming import mining_stream

    spark = get_spark(app_name="worker-import", master="local[2]", shuffle_partitions=2)
    msgs = ["send block <*> to node a", "send block <*> to node b", "job done"]
    parsed = spark.createDataFrame([(m,) for m in msgs], "masked string")
    matched = drain.match_distributed(parsed, drain.fit_distributed(parsed))
    assert matched.filter(F.col("cluster_id").isNull()).count() == 0

    frame = spark.createDataFrame(
        [(float(i), float(i % 3)) for i in range(20)], "a double, b double"
    )
    scored = anomaly.score_isolation_forest(frame, ["a", "b"], n_trees=5)
    assert len(scored.select("anomaly_score").collect()) == 20

    raw = mining_stream.read_log_stream(spark, "logs")
    lines = logs.parse_lines(raw).filter(F.col("masked").isNotNull())
    feed = mining_stream.drain_mining_stream(lines)
    emitted = mining_stream.run_to_memory(feed, "worker_import", mode="append")
    assert sum(r.size for r in mining_stream.latest_drain_catalog(emitted).collect()) == 3
    print("WORKERS-OK")
    """
)


def test_udfs_run_when_only_the_driver_imports_the_package(tmp_path):
    (tmp_path / "logs").mkdir()
    (tmp_path / "logs" / "container_1_01_000001.log").write_text(
        "".join(
            f"2015-10-18 18:01:4{i},978 INFO [main] a.b.C: {m}\n"
            for i, m in enumerate(
                ["Got allocated containers 1", "Got allocated containers 2", "job done"]
            )
        )
    )
    (tmp_path / "run.py").write_text(SCRIPT.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "run.py"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "WORKERS-OK" in out.stdout, out.stderr[-3000:]
