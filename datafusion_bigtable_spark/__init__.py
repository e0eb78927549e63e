"""datafusion_bigtable_spark — a PySpark-native analytics engine with the
capabilities of `datafusion-contrib/datafusion-bigtable`.

The reference (see SURVEY.md) is a Bigtable wide-column connector for Apache
DataFusion: a declared relational schema over composite string row keys +
timestamped cells, a predicate→row-range compiler (partition pruning), a
projection-pushdown filter, and a cell→row pivoting scan.  Everything above
the scan is delegated to the query engine.

This package re-expresses that design Spark-first:

- ``plans.composer``    — the predicate→key-range compiler (the only genuinely
  reference-specific logic; pure Python, reference
  ``src/datasource/composer.rs``).
- ``sources``           — the wide-column *cells* data model
  (``row_key, family, qualifier, ts, value:binary``), a parquet-backed store
  (stands in for the Bigtable emulator), and a PySpark Python Data Source
  with filter pushdown + one input partition per key range.
- ``operators``         — cell→row pivot, latest-version filter, key
  split/compose, big-endian Int64 decode — all as declarative DataFrame
  transformations so Catalyst/Tungsten optimize and codegen them; plus the
  large-scale training-data operators (dedup, similarity search).
- ``functions``         — text analysis + multimodal column plumbing.
- ``streaming``         — Structured Streaming over the cells model / events.

Everything above the scan — joins, aggregation, windows, sorting, set ops —
is stock Spark SQL, exactly as the reference delegates to DataFusion
(reference ``README.md:53``).
"""

from datafusion_bigtable_spark import _zipimport
from datafusion_bigtable_spark.config import BigtableTableConfig, ColumnSpec
from datafusion_bigtable_spark.plans.composer import (
    Between,
    ComposerError,
    Eq,
    In,
    KeyRange,
    compose,
)
from datafusion_bigtable_spark.sources.bigtable_table import (
    BigtableTable,
    GCWatermarkError,
    GCWatermarkWarning,
)

__all__ = [
    "BigtableTable",
    "BigtableTableConfig",
    "ColumnSpec",
    "Between",
    "ComposerError",
    "Eq",
    "GCWatermarkError",
    "GCWatermarkWarning",
    "In",
    "KeyRange",
    "compose",
]

__version__ = "0.1.0"

# A Spark Python worker that unpickles package code (data source, writer,
# operator UDFs) imports this package; from then on its per-task
# import-cache invalidation skips unchanged zip archives.  A get_spark
# session's workers have it from the start (``_daemon.py``).
_zipimport.install()
