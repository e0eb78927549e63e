"""Spark's Python worker daemon, started through the package.

``get_spark`` names this module in ``spark.python.daemon.module``, so Spark
runs ``python -m datafusion_bigtable_spark._daemon <worker module>``.  ``-m``
imports the package first, and its ``__init__`` installs the zipimport guard
(``_zipimport.install``).  One ``importlib.invalidate_caches()`` then takes
the guard's signature of every archive already read, and ``pyspark.daemon``
runs as ``__main__`` with ``sys.argv[1]`` left naming the worker module.
Every worker the daemon forks (task, plain-RDD and data-source planner
workers) inherits the guard and that signature, so none of them re-reads
``pyspark.zip`` on any call, its first included.
"""

import importlib
import runpy

if __name__ == "__main__":
    importlib.invalidate_caches()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
