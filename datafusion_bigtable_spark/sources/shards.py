"""Training-shard sink: materialize a curated corpus as shard-partitioned,
size-governed parquet plus a one-file manifest.

No reference analogue (the reference is read-only over Bigtable,
src/datasource.rs); this is the LAST stage of the pipeline tier — after
ingest → curate → dedup → pack, the corpus has to land on disk in the
layout a training job reads: one directory per shard (so a data-loader
rank opens exactly its shard, nothing else), files capped at a bounded
record count (so no single file serializes a reader), and a manifest
that answers "how many rows/files per shard" by reading ONE small
parquet instead of listing and footer-probing O(files) objects — the
same planning economics as the cells-store manifest
(sources/cells.py::write_manifest).

Scale shape: one hash repartition on the shard column (the write's only
shuffle), then ``partitionBy(shard)`` + ``maxRecordsPerFile`` — the
writer never sorts globally and never funnels through one task.
Determinism: shard membership comes from the caller's shard column
(e.g. ``corpus_shard_assign``'s md5-derived id), so a re-run writes the
same rows to the same shard directories.

Compaction (sources/layout.py) swaps shard directories through
sources/swap.py; both readers here run its heal before they plan, so a
crashed compaction never shows up as a missing shard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST_DIR = "_shard_manifest"


def write_training_shards(
    df: DataFrame,
    path: str,
    shard_col: str = "shard_id",
    max_records_per_file: int = 100_000,
) -> None:
    """Write ``df`` as ``path/<shard_col>=N/part-*.parquet`` with a
    manifest at ``path/_shard_manifest``.  One shuffle (hash on the
    shard column); file count per shard = ⌈rows/max_records_per_file⌉.

    ONE Spark action (r18, guide §1.2/§5): emptiness is detected from
    the write's own output (partitionBy on empty input creates no
    ``shard=`` directories) instead of a pre-write ``limit(1).count()``
    probe, and the manifest comes from the footer sweep compaction
    already uses (layout.py::_refresh_manifest — O(files) metadata, no
    data pages) instead of a full re-read+aggregate of the table just
    written, which at 100 TB re-scanned the entire output once per
    write.
    """
    import glob as _glob
    import os as _os

    (
        df.repartition(F.col(shard_col))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(shard_col)
        .parquet(path)
    )
    if not _glob.glob(_os.path.join(path, f"{shard_col}=*")):
        # a zero-row split is legitimate (cluster-granular 80/10/10 on a
        # small corpus); partitionBy on empty input writes NO footers and
        # the directory becomes unreadable — rewrite as a plain empty
        # parquet (schema-carrying footer, minus the partition column the
        # data write would have moved into the path) plus an empty
        # manifest so readers see a valid, empty table either way
        df.write.mode("overwrite").parquet(path)
        empty_manifest = df.select(shard_col).groupBy(shard_col).agg(
            F.count(F.lit(1)).alias("n_rows"), F.count(F.lit(1)).alias("n_files")
        )
        empty_manifest.coalesce(1).write.mode("overwrite").parquet(f"{path}/{MANIFEST_DIR}")
        return
    from datafusion_bigtable_spark.sources.layout import _refresh_manifest

    _refresh_manifest(path, {"shard_col": shard_col})


def read_shard_manifest(spark: SparkSession, path: str) -> DataFrame:
    """The per-shard (shard, n_rows, n_files) table — ONE small read.  A
    surviving compaction crash state heals first (so the manifest never
    serves counts a crashed refresh left stale)."""
    from datafusion_bigtable_spark.sources.layout import _SHARD_SWAP

    _SHARD_SWAP.heal(path)
    return spark.read.parquet(f"{path}/{MANIFEST_DIR}")


def read_training_shards(
    spark: SparkSession, path: str, shards: list[int] | None = None
) -> DataFrame:
    """Read back all shards, or only ``shards`` — the filter is on the
    partition column, so pruning happens at the FILE level (a rank
    reading shard 3 opens only ``shard_id=3/``; pinned in tests).  A
    surviving compaction crash state heals first (sources/swap.py): the
    backup dir is dot-prefixed, so Spark would skip a mid-swap shard and
    filters on it would return 0 rows with no error.  On a healthy store
    the heal is one glob and two existence checks."""
    from datafusion_bigtable_spark.sources.layout import _SHARD_SWAP

    _SHARD_SWAP.heal(path)
    df = spark.read.parquet(path)
    if shards is not None:
        df = df.filter(F.col("shard_id").isin([int(s) for s in shards]))
    return df
