"""PySpark-native log-analytics engine.

A from-scratch, Spark-first implementation of the capability surface of
the reference project ``KerbacheR/MGL870_TP02_Project_01_HadoopMapReduceLogs``
(single-machine pandas + Drain3 Hadoop-log pipeline). Every operator is
re-expressed as declarative DataFrame / Spark SQL plans so Catalyst +
Tungsten pick the physical strategy; Python touches data only at two
well-contained extension points (faithful online mining and isolation-
forest scoring), both Arrow-batched.

Module map (mirrors SURVEY.md §2 operator inventory):

- ``session``     — SparkSession factory (AQE on, Arrow on, UTC).
- ``sources``     — S1-S6 scans/sinks (recursive container_*.log scan,
                    text files, CSV/Parquet sinks, templates catalog).
- ``functions``   — F1-F6 preprocessing/masking expressions and the
                    text-analysis function library (beyond-reference).
- ``operators``   — T1-T4 template mining, event matrices (D5/D6),
                    stats (A-ops), windows (W-ops),
                    dedup + similarity search (beyond-reference).
- ``ml``          — M1-M10 spark.ml pipeline, correlation pruner,
                    isolation forest, PCA anomaly scoring.
- ``streaming``   — Structured Streaming variants of ingest + mining.
"""

__version__ = "0.1.0"

from pyspark import cloudpickle as _cloudpickle

from .functions import vectors as _vectors
from .ml import anomaly as _anomaly
from .operators import drain as _drain

# The modules whose code runs inside Python UDFs (the numpy cosine
# kernels, the Drain match and stream leaves, isolation-forest
# scoring) are pickled by value, so a Python worker needs pyspark,
# numpy and pandas on its path, not this package: workers inherit the
# driver's cwd, not its sys.path.
for _m in (_vectors, _anomaly, _drain):
    _cloudpickle.register_pickle_by_value(_m)
