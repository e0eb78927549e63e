"""Round-trip: relational → cells store (range-partitioned write) → data
source read — the full storage path a 100 TB deployment would use."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_bigtable_spark.operators.decode import encode_int64_be
from datafusion_bigtable_spark.operators.pivot import compose_row_key
from datafusion_bigtable_spark.sources.cells import cells_from_long_df, write_cells


def test_roundtrip_events_through_cells_store(spark, sf_dir, tmp_path):
    from datafusion_bigtable_spark.queries import load_events
    from datafusion_bigtable_spark.sources import datasource as bt_ds

    events = load_events(spark, sf_dir).limit(200)
    # relational → cells: key = event_type#user_id#event_id, one qualifier
    # carrying the big-endian-encoded value scaled to int
    long = events.select(
        compose_row_key(
            [F.col("event_type"), F.col("user_id"), F.col("event_id")]
        ).alias("k"),
        F.lit("metrics").alias("q"),
        F.col("ts"),
        encode_int64_be((F.col("value") * 100).cast("long")).alias("v"),
    )
    cells = cells_from_long_df(long, row_key="k", qualifier="q", ts="ts", value="v", family="f")
    out = str(tmp_path / "cells_store")
    write_cells(cells, out, num_ranges=4)

    bt_ds.register(spark)
    df = (
        spark.read.format("bigtable")
        .option("path", out)
        .option("column_family", "f")
        .option("columns", "metrics:int64")
        .option("table_partition_cols", "event_type,user_id,event_id")
        .option("allow_full_scan", "true")
        .load()
    )
    # the store is key-range partitioned: the full scan plans every file,
    # as key-disjoint groups (packed into Spark-sized tasks)
    from datafusion_bigtable_spark.sources.datasource import BigtableReader

    reader = BigtableReader(None, {
        "path": out, "column_family": "f", "columns": "metrics:int64",
        "table_partition_cols": "event_type,user_id,event_id", "allow_full_scan": "true",
    })
    parts = reader.partitions()
    assert len([g for p in parts for g in p.groups]) >= 2
    assert sorted(f for p in parts for f in p.files) == sorted(reader._files())
    total = df.count()
    assert total == 200

    # pruned read round-trips values exactly
    one = events.orderBy("event_id").limit(1).collect()[0]
    got = df.filter(
        (F.col("event_type") == one.event_type)
        & (F.col("user_id") == str(one.user_id))
        & (F.col("event_id") == str(one.event_id))
    ).collect()
    assert len(got) == 1
    assert got[0].metrics == int(one.value * 100)
