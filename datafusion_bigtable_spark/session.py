"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` single-JVM; the configs below are chosen so
the same code scales to a multi-executor cluster: AQE for runtime re-planning
(skew joins, partition coalescing), shuffle partitions sized to cores locally
(set to ~2-3x total cores on a real cluster), Arrow enabled for the
pandas-UDF boundary, and UTC session time so timestamp semantics match the
reference's timezone-less microsecond cells (reference src/datasource.rs:72-76).

Spark's Python worker daemon starts through the package
(``spark.python.daemon.module`` = ``_daemon``), which installs the
zipimport guard (``_zipimport.py``) before it forks: every worker of the
session skips PySpark's per-call re-read of ``pyspark.zip`` from its first
call, including workers that never import the package (plain Python RDD
jobs such as ``createDataFrame`` from a list).  The package root goes on the
workers' ``PYTHONPATH`` so the daemon can import the package wherever the
session was started.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the package
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "datafusion_bigtable_spark", *, cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash join when its size conditions
        # hold instead of defaulting to sort-merge: both sides still shuffle,
        # but the build side skips the sort (r19, measured at sf10:
        # tpch_q5 10.0->7.2 s, tpch_q21 6.5->4.6 s, q3 3.9->3.5 s; sf0.1
        # full-bench A/B flat).  The planner's per-partition size conditions
        # still gate the choice, so a giant build side falls back to SMJ.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # testdata tables are single ~1-40MB files; a smaller split size
        # lets their scans parallelize across local cores.  On a cluster
        # with properly-sized (128MB-1GB) files, raise back to the default.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # The worker daemon and its workers import the package (see above).
        .config("spark.python.daemon.module", "datafusion_bigtable_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", _ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
