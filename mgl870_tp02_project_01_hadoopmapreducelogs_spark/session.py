"""SparkSession factory.

The reference runs one CPython thread with no engine knobs at all
(``process_logs_v10.py:1-23``). Here every session is configured for
Catalyst/Tungsten best practice: AQE (runtime re-planning, skew-join
splitting, partition coalescing), Arrow for any Python exchange, UTC
session time zone (stable oracle comparison), and shuffle parallelism
sized to the machine instead of the 200-partition default.

File scans split into at least three tasks per core
(``spark.sql.files.minPartitionNum`` = 3 × ``defaultParallelism``,
Spark's tuning advice of 2-3 tasks per core). Spark charges 4 MB of
open cost per file, so by default it packs a tree of small files into
one split per core, sorted by size; the split that holds the largest
files (a YARN tree's AM container log) then sets the scan's time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mgl870-logspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``). On a real cluster, pass ``master=None`` and submit
    with ``spark-submit``; every conf below is equally valid there.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) columns read as long instead of
        # failing the vectorized reader; queries.load truncates them
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # CollectLimit's incremental scaling (try 1 partition, grow by
        # scaleUpFactor) turns a bounded ``limit(n).collect()`` over a
        # shuffled input into several SEQUENTIAL jobs — measured ~2 s
        # of pure scheduling on the Drain catalog-size probe. Fetch all
        # partitions in one parallel job instead; the limit still
        # bounds what reaches the driver.
        .config("spark.sql.limit.initialNumPartitions", str(shuffle_partitions))
        # Joins (r13, guide §3.1/§9): let the planner pick a shuffled
        # HASH join over sort-merge when a per-partition build side
        # fits, and let AQE rewrite SMJ->SHJ at runtime below the
        # local-map threshold — both sides skip their sort legs. The
        # 128 MB threshold is per POST-SHUFFLE PARTITION, so it is
        # scale-free as long as shuffle partitioning keeps partitions
        # near that size (the same sizing §2.2 wants anyway); where a
        # skewed production key makes hash builds risky, pass
        # ``extra_conf`` to restore the sort-merge default. Measured on
        # the TPC-H headliner chunk at sf0.1: WITHIN NOISE (7.94s vs
        # 7.89s) — the sf-scale joins are mostly broadcast already; the
        # settings are kept for the big-big join paths at scale, where
        # the skipped sort legs are the real cost (guide §3.1), not as
        # a local win.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "134217728"
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set(
        "spark.sql.files.minPartitionNum",
        str(3 * spark.sparkContext.defaultParallelism),
    )
    return spark


def quiet_bounded_window_warns(spark: SparkSession) -> None:
    """Scope WindowExec's "no partition defined" WARN out of HARNESS
    logs (check_oracle / bench / dump_plans) — and only there.

    Every empty-spec window in this engine is a documented
    catalog-bounded sort (``operators/mining.rank_catalog``, which
    every template catalog goes through: input ≤ template cardinality,
    never lines; the bound is plan-asserted in ``tests/test_plans.py``). The WARN cannot be
    avoided by declaring a constant partition key — Spark's
    ``EliminateWindowPartitions`` optimizer rule strips foldable
    partition expressions back to an empty spec — so harness sessions
    raise just that one logger to ERROR. This keeps the warning
    *meaningful*: a WindowExec WARN in a gate/bench log now always
    signals a genuinely unbounded global sort, not the known catalog
    ranking. Production sessions keep the default level.
    """
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        # best-effort: a connect-mode or differently-logged deployment
        # just keeps the warning
        pass
