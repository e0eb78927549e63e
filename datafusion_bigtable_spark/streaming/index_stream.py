"""Streaming maintenance of the saved IVF vector store.

The batch half (`operators.similarity.upsert_ivf_index`) keeps a saved
index current across ingestion ROUNDS; this is the same contract ON THE
STREAM: an embedding feed (the shape of an encoder stage landing vectors
in object storage) flows through ``foreachBatch``, and every micro-batch
anti-joins, assigns against the ORIGINAL persisted centroids, appends,
refreshes the per-cell manifest incrementally, and records its drift
yardstick — so the store a search session loads is never more than one
micro-batch behind the feed, and recall decay is visible per batch.

Why ``foreachBatch`` and not a stateful streaming operator: index
maintenance is a BATCH transaction against an external store (anti-join
+ partitioned append + sidecar update), exactly the pattern foreachBatch
exists for.  The per-vector assignment depends only on the frozen
centroids, so the final store is independent of micro-batch boundaries
and ordering — which is what makes the streamed result equal the batch
operator EXACTLY (the registry oracle is the same SQL), and what makes
task retries safe (a replayed batch anti-joins to nothing).

No reference analogue (the reference is read-only and static-schema,
datasource.rs:23,84); scale/streaming tier.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, types as T

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)


def read_embeddings_stream(spark: SparkSession, path: str) -> DataFrame:
    """An embedding directory as a file stream, one file per micro-batch
    (declared schema — file streams require one)."""
    return (
        spark.readStream.schema(EMBEDDINGS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


class StreamUpsertResult(int):
    """:func:`run_streaming_index_upsert`'s return: total ids appended
    across all micro-batches — a genuine ``int`` (existing comparison
    call sites keep working) — plus ``drift_records``, one record per
    APPENDING micro-batch (``{"batch_id", "appended", "top1_mean",
    "drift", "retrain_recommended"}``), so a stream operator sees recall
    decay in the return value instead of re-reading ``_ivf_meta.json``
    (VERDICT r13 #6).  Bounded driver state: ≤ one small dict per
    micro-batch."""

    drift_records: list

    def __new__(cls, n: int, drift_records=()) -> "StreamUpsertResult":
        obj = super().__new__(cls, n)
        obj.drift_records = list(drift_records)
        return obj

    @property
    def retrain_recommended(self) -> bool:
        return any(r.get("retrain_recommended") for r in self.drift_records)


def run_streaming_index_upsert(
    spark: SparkSession, feed_dir: str, store_path: str, query_name: str = "dbs_index_upsert"
) -> StreamUpsertResult:
    """Drive the embedding feed to completion, upserting each micro-batch
    into the saved store at ``store_path``.  Returns a
    :class:`StreamUpsertResult`: the number of rows appended across all
    batches (an ``int`` subclass) carrying each appending batch's drift
    record and an aggregate ``retrain_recommended`` flag."""
    from datafusion_bigtable_spark.operators.similarity import (
        IvfStoreHandle,
        upsert_ivf_index,
    )

    appended = {"n": 0, "drift": []}
    # The store's immutable parts (meta/schemas/centroids plan/PQ books)
    # open ONCE for the whole stream instead of once per micro-batch
    # (r19, VERDICT r18 #1): this stream is the store's single writer,
    # so the per-batch re-open re-validated nothing that could have
    # changed.  Mutable truth (data files, manifest, membership) is
    # still read fresh inside every upsert.
    handle = IvfStoreHandle(spark, store_path)

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        res = upsert_ivf_index(
            spark, store_path, batch_df.select("vec_id", "embedding"), handle=handle
        )
        appended["n"] += res
        if res.drift is not None:
            appended["drift"].append({"batch_id": batch_id, **res.drift})

    q = (
        read_embeddings_stream(spark, feed_dir)
        .writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", os.path.join(feed_dir, "_checkpoint"))
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return StreamUpsertResult(appended["n"], appended["drift"])


class StreamMaintainResult(int):
    """:func:`run_streaming_index_maintain`'s return: total ids appended
    (an ``int`` subclass, same convention as :class:`StreamUpsertResult`)
    plus ``compactions`` — one record per micro-batch whose post-upsert
    maintenance pass actually rewrote something (``{"batch_id",
    "cells_compacted", "codes_compacted"}``).  Bounded driver state:
    ≤ one small dict per micro-batch."""

    compactions: list

    def __new__(cls, n: int, compactions=()) -> "StreamMaintainResult":
        obj = super().__new__(cls, n)
        obj.compactions = list(compactions)
        return obj


def run_streaming_index_maintain(
    spark: SparkSession,
    feed_dir: str,
    store_path: str,
    *,
    max_files_per_cell: int = 8,
    codes_n_files: int = 32,
    codes_trigger_files: int | None = None,
    query_name: str = "dbs_index_maintain",
) -> StreamMaintainResult:
    """The INGEST-FOREVER shape: drive the embedding feed to completion,
    upserting each micro-batch and then holding the store to its file
    bounds — so a feed that never stops can never fragment the store
    past ``max_files_per_cell`` batches' worth of appends (VERDICT r16
    #3's compaction, composed onto the stream it exists for).

    ``max_files_per_cell=8`` (r18; was 1): with the bound at 1, EVERY
    batch's upsert took each touched cell over the bound, so compaction
    rewrote every touched cell's FULL data every batch — write
    amplification O(cell bytes / batch bytes) per batch, invisible at
    sf0.1 but continuous rewriting of hot cells on a small-batch 100 TB
    feed.  At 8 (each clustered upsert appends one file per touched
    cell), a cell is rewritten once per ~8 batches, so amortized rewrite
    cost per batch is ~cell/8 instead of ~cell; raise it further to
    amortize more per rewrite, at the cost of searches planning over
    more files between compactions.

    The CODES table gets the same amortization via hysteresis (r18, the
    postings maintain stream's trigger/target split): with a single
    bound, the post-compaction file count sits exactly AT the bound, so
    the next batch's one-file append re-crosses it and the whole codes
    table rewrites EVERY batch.  ``codes_trigger_files`` (default
    2 × ``codes_n_files``) is the fire threshold; the rewrite still
    compacts down to ``codes_n_files``, so each table-wide rewrite
    amortizes over ~``codes_n_files`` appending batches.  Pass
    ``codes_trigger_files=codes_n_files`` to restore per-batch firing.

    The maintenance POLICY is :func:`~datafusion_bigtable_spark.operators.
    similarity.compact_ivf_store`'s own listing-only planner: it runs
    after every upsert, and a store within bounds is a no-op that reads
    no data — the policy check costs a directory listing, never a Spark
    job.  Replay safety needs nothing new: the upsert anti-joins a
    redelivered batch to nothing, and compaction is idempotent (a
    crashed swap heals through sources/swap.py on the
    next open — crash shapes pinned in tests/test_ivf_lifecycle.py), so
    at-least-once delivery composes from parts that are already safe."""
    from datafusion_bigtable_spark.operators.similarity import (
        IvfStoreHandle,
        compact_ivf_store,
        upsert_ivf_index,
    )

    state = {"n": 0, "compactions": []}
    # single-writer stream: immutable store parts open once (r19; see
    # run_streaming_index_upsert).  Compaction rewrites data files and
    # the codes table but never meta/schemas/centroids, so the handle
    # stays valid across maintenance passes.
    handle = IvfStoreHandle(spark, store_path)

    def _maintain(batch_df: DataFrame, batch_id: int) -> None:
        state["n"] += upsert_ivf_index(
            spark, store_path, batch_df.select("vec_id", "embedding"), handle=handle
        )
        res = compact_ivf_store(
            spark,
            store_path,
            max_files_per_cell=max_files_per_cell,
            codes_n_files=codes_n_files,
            codes_trigger_files=(
                2 * codes_n_files if codes_trigger_files is None else codes_trigger_files
            ),
        )
        if res["cells_compacted"] or res["codes_compacted"]:
            state["compactions"].append({"batch_id": batch_id, **res})

    q = (
        read_embeddings_stream(spark, feed_dir)
        .writeStream.foreachBatch(_maintain)
        .option("checkpointLocation", os.path.join(feed_dir, "_checkpoint"))
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return StreamMaintainResult(state["n"], state["compactions"])
