"""Executor-side wire scans through the Python DataSource.

`.option("endpoint", host:port)` replaces the parquet stand-in with a
live ReadRows endpoint: the driver shards key space at SampleRowKeys
boundaries and every Spark task opens its own connection for its shard —
the reference's execution shape (its TableProvider streams gRPC inside
the plan, execute_plan.rs:183-212) and the only one that scales to a
1000-executor read.

Contract here: for the SAME cells store, the wire-DS and parquet-DS
relational frames are identical under every predicate shape — the two
transports differ only in who does the IO.  The store is the scan-fuzz
corpus (multi-version, negative int64s, null holes, multi-ts pivot
fanout), so the equality is not a toy check.
"""

from __future__ import annotations

import pytest

from datafusion_bigtable_spark.sources import datasource as bt_ds
from datafusion_bigtable_spark.sources.fake_bigtable import service_from_parquet
from datafusion_bigtable_spark.sources.wire import WireBigtableServer

from test_scan_fuzz import fuzz_cells_path  # noqa: F401 — shared fixture


@pytest.fixture(scope="module")
def wire_addr(fuzz_cells_path):
    with WireBigtableServer(service_from_parquet(fuzz_cells_path)) as srv:
        yield f"{srv.address[0]}:{srv.address[1]}"


def _load(spark, source: str, latest: bool = True, stride: int | None = None):
    bt_ds.register(spark)
    reader = (
        spark.read.format("bigtable")
        .option("column_family", "measurements")
        .option("columns", "pressure:int64,temperature:string")
        .option("table_partition_cols", "region,balloon_id,event_minute")
        .option("only_read_latest", "true" if latest else "false")
        .option("allow_full_scan", "true")
    )
    if ":" in source and "/" not in source:
        reader = reader.option("endpoint", source)
        if stride is not None:
            reader = reader.option("sample_stride_bytes", str(stride))
    else:
        reader = reader.option("path", source)
    return reader.load()


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


FILTERS = [
    None,
    "region = 'us-west2' AND balloon_id = '205' AND event_minute = 'm03'",
    "region IN ('ap-east1', 'eu-west3') AND balloon_id = '33' "
    "AND event_minute BETWEEN 'm01' AND 'm04'",
    "pressure > 0",
    "temperature = '9.6' AND region = 'eu-west3'",
]


@pytest.mark.parametrize("latest", [True, False])
@pytest.mark.parametrize("flt_idx", range(len(FILTERS)))
def test_wire_ds_equals_parquet_ds(spark, fuzz_cells_path, wire_addr, latest, flt_idx):
    flt = FILTERS[flt_idx]
    frames = []
    for source in (fuzz_cells_path, wire_addr):
        df = _load(spark, source, latest=latest)
        if flt:
            df = df.filter(flt)
        frames.append(_rows(df))
    assert frames[0] == frames[1]


def test_unnest_ts_bound_pushes_and_matches(spark, fuzz_cells_path, wire_addr):
    """Version-unnest ts pushdown rides the wire request as a
    timestamp_range_filter; result must equal the parquet path's
    row-group-pruned scan.  The bounds are EXACT cell timestamps from the
    store (not round minutes) so an inclusive/exclusive off-by-one in the
    wire encoding drops a real cell and fails here — a round-timestamp
    bound sits between cells and cannot distinguish >= from >."""
    from test_scan_fuzz import _CELLS

    ts_sorted = sorted({c[2] for c in _CELLS})
    lo, hi = ts_sorted[len(ts_sorted) // 3], ts_sorted[2 * len(ts_sorted) // 3]
    flt = (
        f"_timestamp >= TIMESTAMP '{lo.isoformat(sep=' ')}' "
        f"AND _timestamp <= TIMESTAMP '{hi.isoformat(sep=' ')}'"
    )
    a = _rows(_load(spark, fuzz_cells_path, latest=False).filter(flt))
    b = _rows(_load(spark, wire_addr, latest=False).filter(flt))
    assert a == b
    assert len(a) > 0
    # the boundary cells themselves are in the frame (inclusive both ends)
    stamps = {r[3] for r in a}
    assert lo in stamps and hi in stamps


def test_sampled_sharding_parallelizes_the_scan(spark, wire_addr):
    """A small stride must split the full scan into many wire shards —
    the 1000-executor story: each task fetches its own disjoint range."""
    wide = _load(spark, wire_addr, stride=1024)
    n_wide = wide.rdd.getNumPartitions()
    assert n_wide >= 4, f"expected >=4 shards at 1 KiB stride, got {n_wide}"
    # shards are disjoint: the sharded union equals the unsharded scan
    assert _rows(wide) == _rows(_load(spark, wire_addr))


def test_key_pruned_wire_scan_matches(spark, fuzz_cells_path, wire_addr):
    """Composed key ranges intersect the shard plan (pruned wire scan):
    same frame as the parquet path, and fewer shards than the full scan."""
    flt = (
        "region = 'eu-west3' AND balloon_id IN ('100', '205') "
        "AND event_minute BETWEEN 'm00' AND 'm05'"
    )
    pruned = _load(spark, wire_addr, stride=2048).filter(flt)
    full = _load(spark, wire_addr, stride=2048)
    assert pruned.rdd.getNumPartitions() < full.rdd.getNumPartitions() + 2
    assert _rows(pruned) == _rows(_load(spark, fuzz_cells_path).filter(flt))


def test_in_list_reads_one_row_set_per_shard(spark, fuzz_cells_path, wire_addr):
    """A 6-range ``IN`` over the wire: each SampleRowKeys shard that holds
    a piece of the ranges reads all of its pieces as one RowSet, so the
    scan plans no more tasks than the full scan has shards (one per range
    would be 6), and returns the parquet path's rows."""
    flt = (
        "region = 'eu-west3' AND balloon_id IN ('100', '205', '33') "
        "AND event_minute IN ('m01', 'm04')"
    )
    pruned = _load(spark, wire_addr, stride=2048).filter(flt)
    shards = _load(spark, wire_addr, stride=2048).rdd.getNumPartitions()
    assert 1 < shards < 6
    assert pruned.rdd.getNumPartitions() <= shards
    want = _rows(_load(spark, fuzz_cells_path).filter(flt))
    assert want and _rows(pruned) == want


def test_endpoint_write_read_round_trip(spark):
    """Executor-parallel WRITES over the wire: df.write pushes each
    partition through MutateRows on its own connection; reading the same
    endpoint returns the rows.  Overwrite mode is refused (MutateRows has
    no truncate)."""
    import pandas as pd

    from datafusion_bigtable_spark.sources.fake_bigtable import (
        InProcessBigtableService,
    )

    svc = InProcessBigtableService([])
    with WireBigtableServer(svc) as srv:
        addr = f"{srv.address[0]}:{srv.address[1]}"
        bt_ds.register(spark)
        pdf = pd.DataFrame(
            {
                "region": ["eu-west3", "eu-west3", "us-west2"],
                "balloon_id": ["9", "9", "7"],
                "event_minute": ["m00", "m01", "m00"],
                "_timestamp": pd.to_datetime([1_000_000, 2_000_000, 3_000_000], unit="us"),
                "pressure": [-12, None, 2**41],
                "temperature": ["a", "b", None],
            }
        )
        df = spark.createDataFrame(pdf)
        (
            df.repartition(3)
            .write.format("bigtable")
            .option("endpoint", addr)
            .option("column_family", "measurements")
            .option("columns", "pressure:int64,temperature:string")
            .option("table_partition_cols", "region,balloon_id,event_minute")
            .mode("append")
            .save()
        )
        back = _load(spark, addr)
        rows = {
            (r["region"], r["balloon_id"], r["event_minute"]): (
                r["pressure"],
                r["temperature"],
            )
            for r in back.collect()
        }
        assert rows == {
            ("eu-west3", "9", "m00"): (-12, "a"),
            ("eu-west3", "9", "m01"): (None, "b"),
            ("us-west2", "7", "m00"): (2**41, None),
        }
        with pytest.raises(Exception, match="overwrite.*not supported|not supported.*overwrite"):
            (
                df.write.format("bigtable")
                .option("endpoint", addr)
                .option("column_family", "measurements")
                .option("columns", "pressure:int64,temperature:string")
                .option("table_partition_cols", "region,balloon_id,event_minute")
                .mode("overwrite")
                .save()
            )


def test_endpoint_write_is_idempotent_on_replay(spark):
    """A retried task replays its batch: SetCell with explicit timestamps
    version-replaces itself, so the store is unchanged — the property that
    makes Spark task retries safe against a live service."""
    import pandas as pd

    from datafusion_bigtable_spark.sources.fake_bigtable import (
        InProcessBigtableService,
    )

    svc = InProcessBigtableService([])
    with WireBigtableServer(svc) as srv:
        addr = f"{srv.address[0]}:{srv.address[1]}"
        bt_ds.register(spark)
        pdf = pd.DataFrame(
            {
                "region": ["ap-east1"],
                "balloon_id": ["1"],
                "event_minute": ["m05"],
                "_timestamp": pd.to_datetime([5_000_000], unit="us"),
                "pressure": [42],
                "temperature": ["x"],
            }
        )
        for _ in range(2):  # same frame written twice = replayed batch
            (
                spark.createDataFrame(pdf)
                .write.format("bigtable")
                .option("endpoint", addr)
                .option("column_family", "measurements")
                .option("columns", "pressure:int64,temperature:string")
                .option("table_partition_cols", "region,balloon_id,event_minute")
                .mode("append")
                .save()
            )
        assert len(svc._rows["ap-east1#1#m05"]) == 2  # 2 cells, not 4
        back = _load(spark, addr)
        assert [tuple(r) for r in back.collect()] == [
            (
                "ap-east1",
                "1",
                "m05",
                pd.Timestamp(5_000_000, unit="us").to_pydatetime(),
                42,
                "x",
            )
        ]


def test_streaming_endpoint_sink(spark, tmp_path):
    """writeStream.format('bigtable').option('endpoint', ...): every
    micro-batch partition lands through MutateRows over the socket; the
    store read back over the same endpoint carries the stream's rows."""
    import pandas as pd

    from datafusion_bigtable_spark.sources.fake_bigtable import (
        InProcessBigtableService,
    )
    from pyspark.sql import functions as F

    svc = InProcessBigtableService([])
    with WireBigtableServer(svc) as srv:
        addr = f"{srv.address[0]}:{srv.address[1]}"
        bt_ds.register(spark)
        # a bounded deterministic stream: one file of 20 relational rows
        src_dir = tmp_path / "stream_src"
        src_dir.mkdir()
        pd.DataFrame({"n": range(20)}).to_parquet(src_dir / "batch0.parquet")
        stream = (
            spark.readStream.schema("n long")
            .parquet(str(src_dir))
            .select(
                F.format_string("sk%03d", F.col("n")).alias("_row_key"),
                F.timestamp_micros(F.col("n") * 1000 + 1).alias("_timestamp"),
                (F.col("n") * 11 - 50).alias("pressure"),
                F.format_string("v%d", F.col("n")).alias("temperature"),
            )
        )
        q = (
            stream.writeStream.format("bigtable")
            .option("endpoint", addr)
            .option("column_family", "measurements")
            .option("columns", "pressure:int64,temperature:string")
            .option("table_partition_cols", "_row_key")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        back = _load_simple(spark, addr)
        rows = {r["_row_key"]: (r["pressure"], r["temperature"]) for r in back.collect()}
        assert len(rows) == 20
        assert rows["sk000"] == (-50, "v0") and rows["sk019"] == (159, "v19")


def _load_simple(spark, addr):
    bt_ds.register(spark)
    return (
        spark.read.format("bigtable")
        .option("endpoint", addr)
        .option("column_family", "measurements")
        .option("columns", "pressure:int64,temperature:string")
        .option("table_partition_cols", "_row_key")
        .option("allow_full_scan", "true")
        .load()
    )


def test_wire_ds_matches_parquet_ds_on_fuzz_shapes(spark, fuzz_cells_path, wire_addr):
    """The seeded scan-fuzz WHERE clauses, re-run across the endpoint DS
    vs the parquet DS with fine shards — random predicate shapes exercise
    the shard∩composed-range intersection paths a fixed filter list
    misses.  One pass, all shapes, both frames compared as multisets."""
    from test_scan_fuzz import _SHAPES

    for preds, reg, clauses, vc, proj in _SHAPES:
        where = " AND ".join(clauses)
        pq_df = _load(spark, fuzz_cells_path)
        wr_df = _load(spark, wire_addr, stride=1024)
        if where:
            pq_df, wr_df = pq_df.filter(where), wr_df.filter(where)
        assert _rows(wr_df) == _rows(pq_df), f"mismatch for: {where!r}"


def test_max_wire_shards_caps_dense_samples(spark, fuzz_cells_path, wire_addr):
    """A degenerate sample density (tiny stride ~ every key) must not plan
    O(keys) partitions: the boundary list thins to <= max_wire_shards
    (+1 segments) and the result is unchanged."""
    bt_ds.register(spark)
    dense = (
        spark.read.format("bigtable")
        .option("endpoint", wire_addr)
        .option("column_family", "measurements")
        .option("columns", "pressure:int64,temperature:string")
        .option("table_partition_cols", "region,balloon_id,event_minute")
        .option("only_read_latest", "true")
        .option("allow_full_scan", "true")
        .option("sample_stride_bytes", "1")   # one boundary per key
        .option("max_wire_shards", "5")
        .load()
    )
    assert dense.rdd.getNumPartitions() <= 6
    assert _rows(dense) == _rows(_load(spark, fuzz_cells_path))


def test_int_key_store_over_endpoint(spark, tmp_path):
    """INT64 key components over the wire: the order-preserving key codec
    (plans/keycodec.py) must compose ranges, intersect SampleRowKeys
    shard boundaries, and decode back identically on both transports."""
    from datafusion_bigtable_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    store = Q._bt_events_int_store(spark, sf)
    with WireBigtableServer(service_from_parquet(store)) as srv:
        addr = f"{srv.address[0]}:{srv.address[1]}"
        bt_ds.register(spark)

        def load(src_opt, src):
            return (
                spark.read.format("bigtable")
                .option(src_opt, src)
                .option("column_family", "events")
                .option("columns", "etype:string,cents:int64")
                .option("table_partition_cols", "user_id,event_id")
                .option("key_types", "int64,int64")
                .option("allow_full_scan", "true")
                .option("sample_stride_bytes", "4096")
                .load()
            )

        flt = "user_id = 7 AND event_id > 10 AND event_id < 500"
        w = sorted(tuple(r) for r in load("endpoint", addr).filter(flt).collect())
        p = sorted(tuple(r) for r in load("path", store).filter(flt).collect())
        assert w == p and len(w) > 0
        # full scan too (shard boundaries are encoded-int keys)
        wf = sorted(tuple(r) for r in load("endpoint", addr).collect())
        pf = sorted(tuple(r) for r in load("path", store).collect())
        assert wf == pf
