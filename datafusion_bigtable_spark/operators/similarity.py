"""Similarity search over embedding columns (array<float>).

Two paths, mirroring what a 100 TB pipeline needs:

- **brute-force top-k**: exact cosine of query rows against the corpus,
  rank-k window per query.  The cross join is bounded by the (small)
  query set; the corpus side streams — this is the correctness baseline
  and stays practical whenever |queries| ≪ |corpus|.
- **LSH-bucketed ANN**: sign-of-dimension signatures (axis-aligned
  hyperplanes — deterministic and engine-portable) bucket the corpus;
  queries only scan their own bucket.  Recall trades against bucket
  count exactly like IVF cell count.

All arithmetic is double-precision fold over the array — a pure Catalyst
expression (`zip_with` + `aggregate`), no UDF, so the whole scan+score
pipeline stays in codegen.  Scores round to 6 before ranking so results
are deterministic across engines (ties broken by id).
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from datafusion_bigtable_spark.operators.partitioning import widen_if_narrow
from datafusion_bigtable_spark.sources import swap

# Widen the brute-force corpus side only when it carries at least one full
# scan split of bytes (spark.sql.files.maxPartitionBytes at the session's
# local setting): below that, the scoring CPU fits in a single scan task
# anyway and the exchange is pure added latency (measured at sf0.1:
# sim_topk_filtered 0.74 -> 1.09 s when widened unconditionally); above it,
# a 1-2-row-group file pins the O(queries x corpus) fold CPU to 1-2 tasks.
# Env-overridable for clusters whose split size differs from the local 16 MB.
_BRUTE_WIDEN_MIN_BYTES = int(
    os.environ.get("SPARK_GRAFT_BRUTE_WIDEN_MIN_BYTES", str(16 << 20))
)


def _plan_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate — compile-time only, no job.

    File-scan-rooted plans report real byte sizes; RDD-backed plans
    (e.g. Python createDataFrame) report the unknown-stats maximum, so an
    unknown-size corpus widens whenever it is narrow — the scale-safe
    default."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 0


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, sequential fold (matches DuckDB's
    DOUBLE[] list functions bit-for-bit)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def dot_raw(a: Column, b: Column) -> Column:
    """dot() without per-element casts — for pre-cast double arrays
    (see as_double_vec); measured 35% faster on the pairwise paths at
    sf0.1 because the cast otherwise runs once per element PER PAIR."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def as_double_vec(col: Column) -> Column:
    """Cast a float array to double ONCE per row; identical fold results
    (float→double widening is exact)."""
    return F.transform(col, lambda x: x.cast("double"))


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def topk_bruteforce(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_pred: Column | None = None,
) -> DataFrame:
    """Exact cosine top-k: rows matching ``query_pred`` are the queries.

    Norms are precomputed per row (corpus-side once, not once per pair) so
    each scored pair folds the array a single time for the dot product —
    at 100 TB this is the difference between 1 and 3 array passes per
    candidate.  cosine = dot/(norm_q·norm_c) keeps the bit-exact formula
    the oracle uses.

    ``corpus_pred`` makes this a metadata-FILTERED search: the candidate
    side is restricted BEFORE scoring (pre-filter semantics — exact
    recall within the filtered set at any selectivity, unlike
    post-filtering a global top-k), while the query side still draws
    from the full frame.  The predicate is a plain Catalyst filter, so
    it pushes to the scan.

    Output: (query_id, neighbor_id, score, rk), rk 1..k, score rounded 6,
    deterministic tie-break on neighbor id.
    """
    base = embeddings.withColumn("_dv", as_double_vec(F.col(vec_col)))
    q = base.filter(query_pred).select(
        F.col(id_col).alias("query_id"), F.col("_dv").alias("qv"), norm(F.col(vec_col)).alias("qn")
    )
    cside = base.filter(corpus_pred) if corpus_pred is not None else base
    # The scoring stage inherits the corpus scan's split count, and parquet
    # row groups are atomic per split — an embeddings table with 1-2 row
    # groups pins the whole O(queries × corpus) cosine CPU to 1-2 tasks
    # (measured at sf10: 31 s task CPU on 2 of 13 tasks, 20 s stage wall
    # inside retrieval_hybrid_rrf).  Widen AFTER the projection so the
    # exchange carries only (id, cast vector, norm) — but only past the
    # byte gate above: a sub-split corpus scores in one task's time anyway.
    # At real corpus scale the scan has >= shuffle-width splits and
    # widen_if_narrow is a pass-through regardless.
    c = cside.select(
        F.col(id_col).alias("neighbor_id"), F.col("_dv").alias("cv"), norm(F.col(vec_col)).alias("cn")
    )
    if _plan_bytes(embeddings) >= _BRUTE_WIDEN_MIN_BYTES:
        c = widen_if_narrow(c, "neighbor_id")
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot_raw(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6).alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def train_ivf_codebook(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 3,
    sample: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd-refined codebook from a deterministic sample — the "train on
    a sample, broadcast the codebook" half of a real IVF build.

    Distributed-correct by SHAPE, not by size: the sample is chosen by
    md5 order (reproducible across runs/partitionings), pulled to the
    driver (codebooks are always tiny), and refined with a few k-means
    iterations in numpy.  Returns plain lists, ready to broadcast into
    ``topk_ivf(codebook=...)``.  Not SQL-reproducible (iterative), so the
    oracle-checked queries keep the seed codebook; pytest pins that the
    trained codebook does not LOSE recall vs the seed one.
    """
    import numpy as np

    rows = (
        embeddings.select(F.md5(F.col(id_col).cast("string")).alias("_h"), vec_col)
        .orderBy("_h", vec_col)
        .limit(sample)
        .collect()
    )
    X = np.array([r[1] for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[:n_cells].copy()
    for _ in range(iters):
        sims = X @ C.T
        labels = sims.argmax(axis=1)
        for j in range(n_cells):
            members = X[labels == j]
            if len(members):
                c = members.sum(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
    return [list(map(float, c)) for c in C]


class IvfIndex:
    """Handle over a built IVF assignment index — the persisted
    (id, cell, probe-rank, vector, norm) table both sides of the cell
    self-join read.

    Explicit lifecycle (VERDICT r2): build once per corpus with
    :func:`build_ivf_index`, run any number of ``topk_ivf(...,
    index=idx)`` searches against it, then ``idx.unpersist()`` when done —
    long sessions (the 80-query bench, a notebook looping corpora) must
    not accumulate executor storage waiting for ContextCleaner GC.
    Context-manager form (``with build_ivf_index(...) as idx:``) unpersists
    on exit.
    """

    def __init__(self, assignments: DataFrame, nprobe: int = 1, centroids: DataFrame | None = None):
        self.assignments = assignments
        #: the nprobe this index was BUILT with — searches may probe
        #: narrower, never wider (the rows simply don't exist); recorded so
        #: a widening request fails loudly instead of silently degrading
        #: recall (review finding).
        self.nprobe = nprobe
        #: the (cell, sv, sn) centroid frame the assignment used — a LAZY
        #: attribute attach (no plan change, nothing computed); persisted
        #: by save_ivf_index so a saved store can assign NEW vectors with
        #: the ORIGINAL centroids (upsert_ivf_index, VERDICT r11 #5).
        self.centroids = centroids

    def unpersist(self, blocking: bool = False) -> None:
        self.assignments.unpersist(blocking)

    def __enter__(self) -> "IvfIndex":
        return self

    def __exit__(self, *exc) -> None:
        self.unpersist()


def materialize_owned(result: DataFrame, index: IvfIndex) -> DataFrame:
    """Eagerly compute *result*, then free the throwaway *index* — the
    cache-AND-no-leak resolution of the persist dilemma (VERDICT r9 #3).

    ``persist=True`` with nobody owning the unpersist leaks a
    corpus-sized storage block per call (ADVICE r8); ``persist=False``
    recomputes the scan+assignment subtree on every join side (the
    measured 2× the persist exists to save — the r9 1.5× bench
    regression).  Owning the index HERE threads the needle: the
    assignment caches exactly while the one join that reads it twice
    computes, the (small — k- or threshold-bounded) RESULT is persisted
    and counted to materialize it, and the corpus-sized cache is dropped
    synchronously before returning.

    The result's own cache entry is registered with the cache manager,
    so it is reclaimable the normal ways — ``df.unpersist()``,
    ``spark.catalog.clearCache()`` (bench.py), or ContextCleaner GC —
    and because lineage is kept (no checkpoint truncation), losing its
    blocks on a real cluster merely recomputes: deterministic, slower,
    never wrong.  Callers composing further transformations should pass
    their own ``index=`` to stay fully lazy.
    """
    out = result.persist()
    out.count()  # materialize while the index cache still backs the join
    index.unpersist(blocking=True)
    return out


def build_ivf_index(
    embeddings: DataFrame,
    n_cells: int = 16,
    nprobe: int = 1,
    codebook: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persist: bool = True,
) -> IvfIndex:
    """Assign every vector its top-``nprobe`` codebook cells and persist
    the result — the build half of IVF, separated from search so the
    cache has an owner (see :class:`IvfIndex`).

    Assignment = argmax-cosine over the broadcast codebook (corpus scans
    once; n_cells folds per row).  The persist is what makes the search's
    self-join read the scan+assignment subtree once instead of planning it
    twice (measured 2× at sf0.1).

    ``persist=False`` skips the cache: the assignment is deterministic
    (argmax with a fixed cell tie-break), so both join sides recomputing
    it independently is CORRECT, just one extra scan+fold pass.  Use it
    for throwaway indexes whose unpersist nobody owns — a lazily-returned
    DataFrame can't unpersist after itself, and leaked storage blocks
    accumulate across a long session (ADVICE r8).
    """
    base = embeddings.withColumn("_dv", as_double_vec(F.col(vec_col))).withColumn(
        "_n", norm(F.col(vec_col))
    )
    # Hash-distribute the corpus on id BEFORE the cross join (one
    # corpus-sized exchange).  Two birds: (a) the n × n_cells cosine
    # folds — the dominant cost at a corpus-relative n_cells — run at
    # full cluster parallelism even when the scan yields few partitions
    # (sf1 measured 24 s on a 2-partition scan vs ~2 s distributed);
    # (b) both ranking paths need hashpartitioning(id) anyway (groupBy /
    # window), so this REPLACES the post-crossJoin exchange of
    # n × n_cells full-vector rows with an n-row one — strictly less
    # shuffle, never more.
    spark = embeddings.sparkSession
    p_conf = spark.conf.get("spark.sql.shuffle.partitions", "32")
    base = base.repartition(int(p_conf) if str(p_conf).isdigit() else 32, F.col(id_col))
    if codebook is None:
        seeds = base.filter(F.col(id_col) < n_cells).select(
            F.col(id_col).alias("cell"), F.col("_dv").alias("sv"), F.col("_n").alias("sn")
        )
    else:
        spark = embeddings.sparkSession
        seeds = spark.createDataFrame(
            [(i, list(map(float, v))) for i, v in enumerate(codebook)], "cell LONG, sv ARRAY<DOUBLE>"
        ).withColumn("sn", norm(F.col("sv")))
    cs = dot_raw(F.col("_dv"), F.col("sv")) / (F.col("_n") * F.col("sn"))
    # deliberate cross join: |codebook| = n_cells (tiny, broadcast)
    scored_cells = base.crossJoin(F.broadcast(seeds)).withColumn("_cs", cs)
    if max(1, nprobe) == 1:
        # Top-1 via max_by, NOT a window: the crossJoin emits
        # corpus × n_cells rows each carrying the full vector, and a
        # row_number window SHUFFLES all of them on id — at a
        # corpus-relative n_cells (target_block_size) that is an
        # O(n²/target) full-vector exchange and measured 26 s at sf1
        # (20k × 157 cells) vs ~3 s for this shape.  groupBy max_by
        # partial-aggregates map-side (every vector's cells are local to
        # its scan partition under the broadcast cross join), so only
        # one combined row per vector reaches the exchange.  The
        # (cosine, -cell) ordering struct reproduces the window's
        # (desc _cs, asc cell) winner exactly — same assignment, same
        # oracle hashes.
        ranked = (
            scored_cells.groupBy(F.col(id_col))
            .agg(
                F.max_by(
                    F.struct(F.col("cell"), F.col("_dv"), F.col("_n")),
                    F.struct(F.col("_cs"), (-F.col("cell")).alias("_nc")),
                ).alias("_top")
            )
            .select(
                id_col,
                F.col("_top.cell").alias("cell"),
                F.lit(1).alias("_rn"),
                F.col("_top._dv").alias("_dv"),
                F.col("_top._n").alias("_n"),
            )
        )
    else:
        aw = W.partitionBy(id_col).orderBy(F.desc("_cs"), F.asc("cell"))
        ranked = (
            scored_cells.withColumn("_rn", F.row_number().over(aw))
            .filter(F.col("_rn") <= max(1, nprobe))
            .select(id_col, "cell", "_rn", "_dv", "_n")
        )
    if persist:
        ranked = ranked.persist()
    return IvfIndex(ranked, nprobe=max(1, nprobe), centroids=seeds)


# ---------------------------------------------------------------------------
# The saved IVF store: ``cell=K`` assignment partitions, ``_centroids``, the
# ``_ivf_meta.json`` commit marker (written last), a per-cell manifest and
# optional PQ codes.  Every commit and crash heal goes through
# sources/swap.py: ``_CELL_SWAP`` (delete and compaction rewrite single
# cells; its marker also covers upsert appends) and ``_RETRAIN_SWAP``
# (retrain replaces the whole store).  Each opener heals first.
# ---------------------------------------------------------------------------

IVF_MANIFEST_REL_PATH = "_ivf_manifest.parquet"  # _-prefixed: invisible to discovery
_IVF_META = "_ivf_meta.json"

#: Retraining recommendation threshold: an upsert batch whose rounded
#: top-1-cosine mean sits more than this far BELOW the base build's marks
#: the batch as drifted (recall against the frozen centroids is decaying).
#: 0.05 cosine ≈ the recall knee observed in test_ann_recall's seed-vs-
#: trained floors; in-distribution batches land within ±0.02 of base.
IVF_DRIFT_THRESHOLD = 0.05

#: Newest drift records kept verbatim in the meta sidecar; older entries
#: roll up into exact counters (upserts_rolled_up / _appended) so a store
#: upserted 10⁵+ times carries a bounded sidecar, not an unbounded list.
IVF_UPSERT_HISTORY_CAP = 512


def _round_half_up5(x: float) -> float:
    """Replicate Spark's ``F.round(col, 5)`` on a driver-side double:
    Spark rounds DoubleType via ``BigDecimal.valueOf(x)`` (the shortest
    decimal repr, same as Python's ``repr``) with HALF_UP — Python's
    builtin ``round`` differs on both counts (exact binary value,
    HALF_EVEN), so a driver-assembled mean must not use it when the
    value is oracle-compared against an engine's ROUND."""
    from decimal import ROUND_HALF_UP, Decimal

    if x != x:  # NaN propagates, as through Spark's round
        return x
    return float(Decimal(repr(x)).quantize(Decimal("0.00001"), rounding=ROUND_HALF_UP))


def _top1_mean(assignments: DataFrame, centroids: DataFrame) -> float | None:
    """Rounded mean top-1 cosine of ``_rn = 1`` assignments against their
    own cell centroid — the drift yardstick stored in ``_ivf_meta.json``.

    Per-vector cosines round to 6 BEFORE the mean and the mean rounds to
    5, so the scalar is reproducible across engines and aggregation
    orders (the residual reorder noise of a 10⁴-term double sum is
    ~1e-13, far inside the final rounding step).
    """
    denom = F.col("_n") * F.col("sn")
    row = (
        assignments.filter(F.col("_rn") == 1)
        .join(F.broadcast(centroids), "cell")
        .select(
            # zero-norm vectors have no cosine — exclude them (NULL, which
            # avg skips) instead of letting one NaN poison the batch mean
            # and silently disable the drift comparison (review r13 #3)
            F.when(
                denom > 0, F.round(dot_raw(F.col("_dv"), F.col("sv")) / denom, 6)
            ).alias("_c")
        )
        .agg(F.round(F.avg("_c"), 5).alias("m"))
        .first()
    )
    m = None if row is None else row.m
    return None if m is None or m != m else float(m)  # m != m: NaN guard


def _ivf_manifest_stats(path: str) -> dict[int, dict[str, int]]:
    import pyarrow.parquet as pq

    mpath = os.path.join(path, IVF_MANIFEST_REL_PATH)
    if not os.path.exists(mpath):
        return {}
    return {
        int(r["cell"]): {"files": int(r["files"]), "rows": int(r["rows"])}
        for r in pq.read_table(mpath).to_pylist()
    }


def _append_ivf_manifest(
    path: str, per_cell_rows: dict[int, int], base: dict[int, dict] | None
) -> None:
    """Merge an upsert's appended row counts into the manifest: only the
    TOUCHED cell directories are re-listed and no data footer is read, so
    an upsert refresh is O(batch cells), never O(store files).  Counts are
    absolute — ``base``, the manifest as the upsert armed its marker, plus
    the batch — so a reader's heal that recounted the cells in between
    is not counted twice.  A store without a manifest (``base`` None) gets
    a full recount.  External writers bypassing save/upsert are out of
    contract (they would also violate the append-only guarantee)."""
    import glob as _glob

    if base is None:
        _recount_ivf_manifest(path)
        return
    stats = dict(base)
    for cell, n in per_cell_rows.items():
        files = _glob.glob(os.path.join(path, f"cell={cell}", "*.parquet"))
        stats[cell] = {"files": len(files), "rows": base.get(cell, {}).get("rows", 0) + n}
    _write_manifest_table(path, stats)


def _recount_ivf_manifest(path: str, marker: dict | None = None) -> None:
    """Recount the cells a pending marker names (``{"cells": [...]}``)
    from their footers into the manifest — or every cell: at save (the
    pay-once sweep, as sources.cells.write_manifest) and for an
    unparsable marker.  Absolute counts, so it is right after appends and
    removals alike, and after a crash before the mutation ran.  A crashed
    upsert's drift record is not recovered (its batch anti-joins away on
    replay): one trend point is lost, never a count."""
    cells = (marker or {}).get("cells")
    stats = {} if cells is None else _ivf_manifest_stats(path)
    stats.update(swap.partition_stats(path, "cell", cells))
    _write_manifest_table(path, stats)


def _write_manifest_table(path: str, stats: dict[int, dict[str, int]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cells = sorted(stats)
    table = pa.table(
        {
            "cell": pa.array(cells, type=pa.int64()),
            "files": pa.array([stats[c]["files"] for c in cells], type=pa.int64()),
            "rows": pa.array([stats[c]["rows"] for c in cells], type=pa.int64()),
        }
    )
    swap.write_file(
        os.path.join(path, IVF_MANIFEST_REL_PATH), lambda tmp: pq.write_table(table, tmp)
    )


_PENDING_MARKER = "_ivf_manifest.pending.json"
_CELL_SWAP = swap.PartitionSwap(
    "._del_tmp", "._del_old_", _PENDING_MARKER, _recount_ivf_manifest, drop_unswapped=True
)
_RETRAIN_SWAP = swap.StoreSwap("retrain", _IVF_META)


def _open_ivf_meta(path: str) -> dict:
    """Heal whatever a crash left mid-swap or mid-manifest-refresh, then
    read the meta sidecar."""
    _RETRAIN_SWAP.heal(path)
    _CELL_SWAP.heal(path)
    with open(os.path.join(path, _IVF_META)) as f:
        return json.load(f)


def read_ivf_manifest(path: str) -> list[dict] | None:
    """Per-cell ``{cell, files, rows}`` stats without touching any data
    file (a surviving crash state heals first) — None when the store
    predates the manifest."""
    _CELL_SWAP.heal(path)
    return _read_ivf_manifest(path)


def _read_ivf_manifest(path: str) -> list[dict] | None:
    import pyarrow.parquet as pq

    mpath = os.path.join(path, IVF_MANIFEST_REL_PATH)
    return pq.read_table(mpath).to_pylist() if os.path.exists(mpath) else None


def save_ivf_index(index: IvfIndex, path: str) -> None:
    """Persist a built IVF index as a parquet table PARTITIONED BY CELL,
    plus a meta sidecar (nprobe, column order, both table SCHEMAS, the
    base drift yardstick) and a per-cell file/row-count manifest.

    This is the build-once-search-forever shape: at 100 TB the
    assignment pass (one corpus scan × n_cells cosine folds) is the
    expensive half, and it is identical for every search that follows —
    sessions should read it back, not rebuild it.  ``partitionBy(cell)``
    makes each cell a directory, so a loaded index's nprobe-cell search
    prunes to exactly the probed cells at the FILE level (partition
    pruning, pinned in tests) — the on-disk analogue of the in-memory
    index's one-shuffle-on-cell layout.

    The sidecar schemas are what let :func:`load_ivf_index` and
    :func:`upsert_ivf_index` open the store with ZERO footer reads and
    no schema-inference pass (VERDICT r12 #8) — at 10⁵ files inference
    is the same O(files) planning cliff the cells-store manifest
    retired (SCALE.md #2).  The manifest itself pays one listing+footer
    sweep HERE, at write time; upserts refresh it incrementally.
    """
    import json
    import os

    from concurrent.futures import ThreadPoolExecutor

    df = index.assignments
    meta = {"nprobe": index.nprobe, "columns": df.columns, "schema": df.schema.json()}

    def _write_assignments():
        # Cluster on the partition key BEFORE the partitioned write (r18,
        # guide §6): a bare partitionBy("cell") from an M-partition frame
        # opens up to M files per cell — measured 512 files for a 2k-row
        # store at sf0.1 (32 shuffle partitions × 16 cells), paying
        # file-open overhead per task at write time and per-file planning
        # overhead on EVERY later load/search/footer sweep.  One
        # batch-sized exchange on cell makes each cell's data land in one
        # writer task: files per cell = 1, and the manifest footer sweep
        # below touches n_cells files, not M × n_cells.
        df.repartition(F.col("cell")).write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(path)

    if index.centroids is not None:
        meta["centroids_schema"] = index.centroids.schema.json()
        # The save's independent actions run as concurrent jobs (r18,
        # guide §2.6 — the same overlap the postings store's multi-table
        # writes use): the drift-yardstick aggregate reads only the
        # (usually cached) assignments frame, so it back-fills the
        # assignments write's straggler tail instead of idling through
        # it.  The centroids write MUST wait for the assignments
        # overwrite (mode("overwrite") deletes `path` wholesale — a
        # concurrent write into path/_centroids could be wiped
        # mid-flight); once the data files exist, the tiny centroids job
        # and the driver-side manifest footer sweep (disjoint paths)
        # overlap too.  The meta sidecar still commits strictly LAST, so
        # the crash contract (complete meta ⇒ complete store) is
        # unchanged.
        with ThreadPoolExecutor(max_workers=2) as pool:
            fut_asg = pool.submit(_write_assignments)
            # Drift yardstick (VERDICT r12 #4): the base build's mean
            # top-1 cosine — upserts compare their batch against this so
            # recall decay against the frozen centroids is visible, not
            # silent.
            fut_mean = pool.submit(_top1_mean, df, index.centroids)
            fut_asg.result()
            # centroids ride along as their own parquet table (n_cells
            # rows — a json sidecar would not scale to corpus-relative
            # cell counts), so the store can assign NEW vectors with the
            # ORIGINAL centroids across ingestion rounds
            # (upsert_ivf_index)
            fut_cent = pool.submit(
                index.centroids.write.mode("overwrite").parquet,
                os.path.join(path, "_centroids"),
            )
            fut_man = pool.submit(_recount_ivf_manifest, path)
            meta["base_top1_mean"] = fut_mean.result()
            meta["drift_threshold"] = IVF_DRIFT_THRESHOLD
            meta["upserts"] = []
            fut_cent.result()
            fut_man.result()
    else:
        _write_assignments()
        _recount_ivf_manifest(path)
    swap.write_json(os.path.join(path, _IVF_META), meta)


def _read_store(spark, path: str, meta: dict):
    """Open the assignments table with the sidecar schema when present —
    no schema-inference footer read (pre-schema stores fall back)."""
    from pyspark.sql.types import StructType

    reader = spark.read
    if "schema" in meta:
        reader = reader.schema(StructType.fromJson(json.loads(meta["schema"])))
    return reader.parquet(path)


def delete_from_ivf_index(
    spark,
    path: str,
    delete_ids: DataFrame,
    id_col: str = "vec_id",
    handle: "IvfStoreHandle | None" = None,
) -> int:
    """Remove vectors from a saved IVF store — the takedown/right-to-
    erasure half of the dense lifecycle (VERDICT r15 #4), mirroring
    ``delete_from_postings_index``; after any deletes the store is
    SEMANTICALLY IDENTICAL to one built over the remaining corpus with
    the SAME centroids (oracle-checked by ``sim_index_delete``).

    Ids not in the store are ignored (idempotent — a re-delivered
    takedown folds to nothing).  Centroids are TRAINING state, not
    members: deleting a vector that seeded a cell removes the vector's
    rows, never the centroid (exactly the frozen-centroids upsert
    contract read in reverse — assignments stay comparable across the
    store's whole life).

    Plan shape: one broadcast probe finds the touched cells (an
    nprobe-row id touches ≤ nprobe cells; the collect is ≤ n_cells
    rows), then ONE job rewrites every touched cell's survivors into a
    cell-partitioned tmp (r16 review: a per-cell rewrite loop is a
    serial Spark job per cell — fine at 16 cells, a driver-round-trip
    disaster at a corpus-relative cell count), followed by O(touched)
    pure renames through ``_CELL_SWAP`` (sources/swap.py).  Untouched
    cells are never read.  The manifest recounts the touched cells from
    footers through the same pending-marker window as upsert.  When the
    store carries a PQ codes table, its rows delete in the same call
    under the codes table's own meta-removed-first window (a crash
    rebuilds codes from the healed assignments — codes are derived
    state).  Returns the
    number of ids removed."""
    import os
    import shutil

    # One-shot callers open (and heal) the store here; the takedown
    # stream passes a handle built once — the same single-writer
    # argument as upsert's (r19, VERDICT r18 #1).
    if handle is None:
        handle = IvfStoreHandle(spark, path)
    meta = handle.meta
    ids = F.broadcast(delete_ids.select(id_col).distinct())
    store = handle.read_store(spark)
    hits = store.join(ids, id_col)
    # ONE probe job yields both the touched-cell set and the removed-id
    # count (r18, guide §1.2: the previous shape scanned `hits` twice —
    # a distinct-cells collect plus a distinct-id count).  An id's
    # _rn==1 row lives in exactly one cell, so per-cell distinct counts
    # sum to the global distinct count.
    probe = (
        hits.groupBy("cell")
        .agg(F.count_distinct(F.when(F.col("_rn") == 1, F.col(id_col))).alias("_ids"))
        .collect()  # ≤ n_cells rows
    )
    touched = sorted(int(r["cell"]) for r in probe)
    if not touched:
        return 0
    n_gone = int(sum(r["_ids"] for r in probe))
    has_pq = os.path.isfile(os.path.join(path, _PQ_META))
    if has_pq:
        # invalidate the codes table FIRST: any crash in the window below
        # reads as "codes missing — re-attach" (codes are derived from
        # assignments + codebooks, so fail-loud + rebuild is the contract)
        pq_meta = _read_pq_meta(path)
        os.remove(os.path.join(path, _PQ_META))
    # a kept handle skips the open's heal: finish an earlier mutation's
    # manifest refresh before this mutation's marker replaces its marker
    _CELL_SWAP.refresh_manifest(path)
    _CELL_SWAP.arm(path, {"cells": touched})
    reader = spark.read.option("basePath", path)
    if handle.store_schema is not None:
        # sidecar schema: the rewrite reads no footer either
        reader = reader.schema(handle.store_schema)
    tmp = os.path.join(path, _CELL_SWAP.tmp)
    shutil.rmtree(tmp, ignore_errors=True)
    cell_dirs = [os.path.join(path, f"cell={c}") for c in touched]
    (
        reader.parquet(*cell_dirs)
        .join(ids, id_col, "left_anti")
        .select(*meta["columns"])
        # cluster survivors on cell (r18, guide §6) — mirrors
        # compact_ivf_store's rewrite; without it the swap re-fragments
        # every touched cell to (scan partitions) files
        .repartition(len(touched), F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(tmp)
    )
    # a touched cell with no tmp subdir had zero survivors: absent
    # partition dir == zero rows, exactly a fresh build's layout
    _CELL_SWAP.swap(path, [f"cell={c}" for c in touched])
    # footer recount of exactly the touched cells; clears the marker
    _CELL_SWAP.finish(path, {"cells": touched})
    if has_pq:
        from datafusion_bigtable_spark.sources.layout import (
            rewrite_files_dropping_ids,
        )

        ids_codes = F.broadcast(
            delete_ids.select(F.col(id_col).alias("id")).distinct()
        )
        rewrite_files_dropping_ids(
            spark, os.path.join(path, _PQ_CODES_DIR), "id", ids_codes, "id"
        )
        swap.write_json(os.path.join(path, _PQ_META), pq_meta)
    return int(n_gone)


def compact_ivf_store(
    spark,
    path: str,
    *,
    max_files_per_cell: int = 1,
    codes_n_files: int = 32,
    codes_trigger_files: int | None = None,
) -> dict:
    """Re-cluster a saved IVF store's fragmented cells (and its PQ codes
    table) back to bounded file counts — the maintenance half the upsert
    lifecycle was missing (VERDICT r16 #3): every
    :func:`upsert_ivf_index` APPENDS the batch's files into each touched
    ``cell=K`` directory, and while deletes and retrains rewrite (and so
    compact) the cells they touch, a store that only ever INGESTS
    accumulates one file set per upsert forever — the exact asymmetry
    ``compact_postings_index`` (retrieval.py) closed for the sparse
    store.  The codes table fragments the same way (each upsert appends
    its batch's encode — ADVICE r16 #3), so it compacts in the same
    call, back under ``codes_n_files`` id-clustered files.

    Planning is LISTING-ONLY (a directory glob per cell decides; no
    footer reads, no data reads): a store already within both bounds
    returns unchanged, so running this on a schedule between ingests is
    safe and cheap.  Assignment rows, centroids, codebooks, and code
    values are untouched — a compacted search is bit-identical (pinned
    in tests/test_ivf_lifecycle.py; driver-oracled by
    ``sim_index_compact``).

    Crash protocol — nothing new, by design:

    - **Cells** reuse the delete machinery verbatim with an EMPTY drop
      set: ONE job rewrites every fragmented cell, then ``_CELL_SWAP``
      swaps them in and heals a crash anywhere (sources/swap.py), and
      the manifest recounts touched cells from footers through the same
      pending-marker window as upsert/delete.
    - **Codes** follow the codes table's own meta-removed-first window
      (the same protocol as attach/upsert/delete): a crash mid-rewrite
      reads as "codes missing — re-attach", never as a torn table.

    Returns ``{"cells_compacted": int, "codes_compacted": bool}``."""
    import glob as _glob
    import os
    import shutil

    from pyspark.sql.types import StructType

    meta = _open_ivf_meta(path)
    base = path.rstrip("/")
    # a crashed codes-rewrite leaves its tmp behind (the meta-removed-
    # first window already marks the codes "missing — re-attach"); the
    # tmp is never a recovery source, so sweep it unconditionally
    shutil.rmtree(os.path.join(base, _PQ_CODES_DIR + "_tmp"), ignore_errors=True)
    touched = sorted(
        int(os.path.basename(d).split("=", 1)[1])
        for d in _glob.glob(os.path.join(base, "cell=*"))
        if len(_glob.glob(os.path.join(d, "*.parquet"))) > max_files_per_cell
    )
    codes_dir = os.path.join(base, _PQ_CODES_DIR)
    ctmp = codes_dir + "_tmp"
    # Trigger/target split (r18, mirroring the postings maintain stream's
    # hysteresis): the rewrite fires when the file count crosses the
    # TRIGGER but compacts down to the TARGET (codes_n_files).  Default
    # trigger == target keeps the batch op's "compact now to bound"
    # semantics; a maintenance scheduler passes a higher trigger so each
    # whole-table rewrite amortizes over (trigger − target) appends
    # instead of firing on every batch that re-crosses the bound.
    trigger = codes_n_files if codes_trigger_files is None else codes_trigger_files
    needs_codes = os.path.isfile(os.path.join(base, _PQ_META)) and len(
        _glob.glob(os.path.join(codes_dir, "*.parquet"))
    ) > trigger
    tmp = os.path.join(base, _CELL_SWAP.tmp)

    def _rewrite_cells():
        reader = spark.read.option("basePath", path)
        if "schema" in meta:
            reader = reader.schema(StructType.fromJson(json.loads(meta["schema"])))
        cell_dirs = [os.path.join(base, f"cell={c}") for c in touched]
        id_col = meta["columns"][0]  # build/upsert select id first by contract
        (
            reader.parquet(*cell_dirs)
            .repartition(len(touched), F.col("cell"))
            .sortWithinPartitions(id_col)
            .select(*meta["columns"])
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(tmp)
        )

    def _rewrite_codes():
        (
            spark.read.schema("id long, codes array<int>")
            .parquet(codes_dir)
            .repartition(codes_n_files, F.col("id"))
            .sortWithinPartitions("id")
            .write.mode("overwrite")
            .parquet(ctmp)
        )

    # The two rewrites touch disjoint directories (cells → ._del_tmp,
    # codes → _pq_codes_tmp) and neither reads the other's table, so
    # they run as concurrent jobs (r18, guide §2.6 — the same overlap
    # the postings store's compaction uses); each table's swap/renames
    # still happen strictly after ITS OWN job lands, so both crash
    # protocols are unchanged.  The codes meta is removed BEFORE the
    # jobs launch (meta-removed-first window now spans the cells rewrite
    # too — a crash anywhere in it reads as "codes missing — re-attach",
    # exactly the contract upsert's window already uses).
    if needs_codes:
        pq_meta = _read_pq_meta(path)
        os.remove(os.path.join(base, _PQ_META))
        shutil.rmtree(ctmp, ignore_errors=True)
    if touched:
        _CELL_SWAP.arm(path, {"cells": touched})
        shutil.rmtree(tmp, ignore_errors=True)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_cells = pool.submit(_rewrite_cells) if touched else None
        fut_codes = pool.submit(_rewrite_codes) if needs_codes else None
        if fut_cells is not None:
            fut_cells.result()
            _CELL_SWAP.swap(base, [f"cell={c}" for c in touched])
            _CELL_SWAP.finish(path, {"cells": touched})
        if fut_codes is not None:
            fut_codes.result()
            shutil.rmtree(codes_dir)
            os.rename(ctmp, codes_dir)
            swap.write_json(os.path.join(base, _PQ_META), pq_meta)
    return {"cells_compacted": len(touched), "codes_compacted": needs_codes}


def ivf_store_stats(path: str) -> dict:
    """Fragmentation/health snapshot of a saved IVF store — LISTING-ONLY
    (manifest + directory globs; no Spark session, no data reads, no
    jobs): the observability a maintenance scheduler needs to decide
    WHEN to run :func:`compact_ivf_store` without paying anything to
    ask.  A surviving crash state heals first (the same heal-on-read
    every opener runs).

    Returns ``{"n_cells", "n_rows", "total_files",
    "max_files_per_cell", "pq_codes_files" (None when no codes
    attached), "version"}``."""
    import glob as _glob
    import os

    # Heal swap crashes BEFORE counting, like every other opener: a
    # recount of a cell whose dir is mid-swap would write a
    # forever-undercount into the manifest (ADVICE r17).  The heals are
    # pure-filesystem renames and footer reads, so the
    # listing-only/no-Spark contract holds.
    meta = _open_ivf_meta(path)
    man = _read_ivf_manifest(path)
    if man is None:
        # Legacy store predating the manifest: absence of evidence is not
        # an empty store — fail loud instead of reporting zeros a
        # maintenance scheduler would act on (ADVICE r17).
        raise FileNotFoundError(
            f"IVF store at {path} has no manifest — pre-manifest store; "
            "run an upsert (or re-save) to materialize one before asking "
            "for stats"
        )
    codes = (
        len(_glob.glob(os.path.join(path, _PQ_CODES_DIR, "*.parquet")))
        if os.path.isfile(os.path.join(path, _PQ_META))
        else None
    )
    return {
        "n_cells": len(man),
        "n_rows": sum(m["rows"] for m in man),
        "total_files": sum(m["files"] for m in man),
        "max_files_per_cell": max((m["files"] for m in man), default=0),
        "pq_codes_files": codes,
        "version": meta.get("version"),
    }


def load_ivf_index(spark, path: str) -> IvfIndex:
    """Read a :func:`save_ivf_index` table back as a live
    :class:`IvfIndex`.  The frame is parquet-backed — no persist needed
    (every search rereads only its probed cell directories), and
    ``unpersist()`` on it is a safe no-op, so the context-manager
    lifecycle keeps working unchanged.  Plan contract: with the schema
    sidecar present, loading performs ZERO data-file reads — schemas
    come from ``_ivf_meta.json``, per-cell stats from the manifest
    (pinned in tests by loading a store whose data files are truncated
    to zero bytes).  Any crash state heals first (:func:`_open_ivf_meta`)."""
    from pyspark.sql.types import StructType

    meta = _open_ivf_meta(path)
    df = _read_store(spark, path, meta).select(*meta["columns"])
    cb_path = os.path.join(path, "_centroids")
    centroids = None
    if os.path.isdir(cb_path):
        reader = spark.read
        if "centroids_schema" in meta:
            reader = reader.schema(
                StructType.fromJson(json.loads(meta["centroids_schema"]))
            )
        centroids = reader.parquet(cb_path)
    return IvfIndex(df, nprobe=meta["nprobe"], centroids=centroids)


# ---------------------------------------------------------------------------
# Persisted PQ codes inside the IVF store (VERDICT r15 #6)
# ---------------------------------------------------------------------------

_PQ_META = "_pq_meta.json"
_PQ_CODEBOOKS = "_pq_codebooks.json"
_PQ_CODES_DIR = "_pq_codes"
_PQ_VERSION = 1
# Upsert appends size their code-file count to the batch: ceil(batch /
# this).  PQ codes are m bytes + one long per row, so 1M rows ≈ a few MB
# per file — comfortably over the small-file cliff, well under task skew.
_PQ_CODES_ROWS_PER_FILE = 1_000_000


def _read_pq_meta(path: str) -> dict:
    import os

    mpath = os.path.join(path, _PQ_META)
    if not os.path.isfile(mpath):
        raise FileNotFoundError(
            f"{path} has no {_PQ_META} — PQ codes missing, stale-versioned, "
            "or their write crashed before commit; re-run attach_pq_codes"
        )
    with open(mpath) as f:
        meta = json.load(f)
    if meta.get("version") != _PQ_VERSION:
        raise FileNotFoundError(
            f"{path} carries version-{meta.get('version')} PQ codes; this "
            f"reader needs version {_PQ_VERSION} — re-run attach_pq_codes"
        )
    return meta


def attach_pq_codes(
    spark,
    path: str,
    codebooks: list[list[list[float]]] | None = None,
    n_files: int = 32,
) -> dict:
    """Encode a saved IVF store's vectors into persisted PQ codes — the
    memory-compressed representation PQ exists for (VERDICT r15 #6:
    ``topk_pq``/``topk_ivfpq`` re-encoded the corpus on every call; at
    100 TB the int8/code table IS the serving store).  One map-only
    encode pass (``pq_encode`` over the store's own ``_dv`` column —
    the raw corpus never re-reads), written id-clustered into
    ``_pq_codes/``.

    Two sidecars, two lifetimes: ``_pq_codebooks.json`` is TRAINING
    state (written atomically here, never removed by maintenance — it
    is what a crash recovery re-encodes with), while ``_pq_meta.json``
    is the commit marker (removed FIRST by every mutation, re-committed
    LAST), so any crash reads as "codes missing — re-attach", never as
    a torn codes table.  ``codebooks=None`` re-attaches with the
    persisted training state (the crash-recovery path).

    Upserts maintain the codes INCREMENTALLY (``upsert_ivf_index``
    encodes only the batch); deletes remove code rows in the same call
    (``delete_from_ivf_index``).  Returns the committed meta."""
    import os

    meta = _open_ivf_meta(path)
    # invalidate first: a crashed re-attach must not leave the old meta
    # pointing at a half-rewritten codes table
    try:
        os.remove(os.path.join(path, _PQ_META))
    except FileNotFoundError:
        pass
    cb_path = os.path.join(path, _PQ_CODEBOOKS)
    if codebooks is None:
        if not os.path.isfile(cb_path):
            raise FileNotFoundError(
                f"{path} has no {_PQ_CODEBOOKS} — pass codebooks= on the "
                "first attach"
            )
        with open(cb_path) as f:
            codebooks = json.load(f)["codebooks"]
    else:
        swap.write_json(cb_path, {"codebooks": codebooks})
    id_col = meta["columns"][0]  # build/upsert select id first by contract
    vecs = (
        _read_store(spark, path, meta)
        .filter(F.col("_rn") == 1)
        .select(F.col(id_col).alias("id"), F.col("_dv"))
    )
    (
        pq_encode(vecs, codebooks, id_col="id", vec_col="_dv")
        .repartition(n_files, F.col("id"))
        .write.mode("overwrite")
        .parquet(os.path.join(path, _PQ_CODES_DIR))
    )
    pq_meta = {
        "version": _PQ_VERSION,
        "m": len(codebooks),
        "sub_dim": len(codebooks[0][0]),
        "id_col": id_col,
    }
    swap.write_json(os.path.join(path, _PQ_META), pq_meta)
    return pq_meta


def load_pq_codes(spark, path: str):
    """Open a store's persisted PQ codes: ``(codes_df, codebooks,
    pq_meta)`` — two tiny json reads plus a lazy scan plan, zero data
    reads, zero Spark jobs (pinned in tests).  Fails loud (via
    :func:`_read_pq_meta`) on a store whose codes are absent, torn, or
    stale-versioned."""
    import os

    pq_meta = _read_pq_meta(path)
    with open(os.path.join(path, _PQ_CODEBOOKS)) as f:
        codebooks = json.load(f)["codebooks"]
    codes = spark.read.schema("id long, codes array<int>").parquet(
        os.path.join(path, _PQ_CODES_DIR)
    )
    return codes, codebooks, pq_meta


def topk_ivfpq_saved(
    spark,
    path: str,
    query_pred: Column,
    k: int = 3,
) -> DataFrame:
    """IVF×PQ search served ENTIRELY from a saved store — zero build
    jobs, zero encode jobs at query time: cells come from the persisted
    assignments, candidate scores from the persisted codes table, query
    subspace slices from the store's own ``_dv`` vectors (queries are
    corpus members, the repo-wide ANN contract).  Hash-identical to the
    fresh ``topk_ivfpq`` computation for the same predicate (pinned in
    tests; oracle-checked by ``sim_topk_ivfpq_saved``) — the difference
    is purely WHERE the representation lives: at 100 TB the codes table
    (m bytes per vector) is the thing that fits in serving memory while
    the raw corpus does not."""
    idx = load_ivf_index(spark, path)
    codes, codebooks, pq_meta = load_pq_codes(spark, path)
    id_col = pq_meta["id_col"]
    m, sub_dim = pq_meta["m"], pq_meta["sub_dim"]
    assigned = idx.assignments.filter(F.col("_rn") == 1).select(
        F.col(id_col).alias("id"), "cell"
    )
    corpus = codes.join(assigned, "id").select(
        F.col("id").alias("neighbor_id"),
        "cell",
        F.posexplode("codes").alias("j", "code"),
    )
    q = _pq_query_slices(
        idx.assignments.filter(F.col("_rn") == 1),
        query_pred,
        m,
        sub_dim,
        id_col,
        "_dv",
    ).join(assigned.withColumnRenamed("id", "query_id"), "query_id")
    cents = _pq_cents_df(spark, codebooks)
    return _adc_score_topk(corpus, cents, q, ["cell", "j"], k)


class IvfStoreHandle:
    """Driver-side handle over a saved IVF store's IMMUTABLE parts —
    the meta dict, parsed sidecar schemas, the centroids scan plan, and
    the PQ training codebooks — built once and carried across
    ``foreachBatch`` invocations (r19, VERDICT r18 #1 / guide §1.2, §5):
    re-opening, re-parsing and re-planning these per micro-batch was
    pure per-batch fixed cost at the driver.  The handle NEVER holds
    data, row counts, or results: the store's mutable truth (data
    files, manifest, membership ids) is read fresh inside every
    operation exactly as before, so nothing is cached across runs.

    Contract: valid while its owner is the store's sole mutator — the
    streaming harness's exact situation (checkpointed single-writer
    foreachBatch).  The swap and manifest heals (sources/swap.py) run
    once at open; a crash mid-batch is healed by the NEXT opener, the
    same recovery point as the per-call open it replaces.  ``meta`` is
    mutated in place by :func:`upsert_ivf_index` as drift records
    append, so the dict mirrors the sidecar without a re-read per
    batch."""

    def __init__(self, spark, path: str):
        import os

        from pyspark.sql.types import StructType

        self.meta = _open_ivf_meta(path)
        self.path = path
        self.store_schema = (
            StructType.fromJson(json.loads(self.meta["schema"]))
            if "schema" in self.meta
            else None
        )
        cb_path = os.path.join(path, "_centroids")
        if os.path.isdir(cb_path):
            reader = spark.read
            if "centroids_schema" in self.meta:
                reader = reader.schema(
                    StructType.fromJson(json.loads(self.meta["centroids_schema"]))
                )
            self.seeds = reader.parquet(cb_path)
        else:
            self.seeds = None
        #: lazily parsed PQ codebooks (immutable training state —
        #: attach_pq_codes is the only writer and never runs mid-stream)
        self._pq_books: list | None = None

    def pq_books(self) -> list:
        import os

        if self._pq_books is None:
            with open(os.path.join(self.path, _PQ_CODEBOOKS)) as f:
                self._pq_books = json.load(f)["codebooks"]
        return self._pq_books

    def read_store(self, spark):
        reader = spark.read
        if self.store_schema is not None:
            reader = reader.schema(self.store_schema)
        return reader.parquet(self.path)


class UpsertResult(int):
    """:func:`upsert_ivf_index`'s return: the number of newly appended
    ids — a genuine ``int`` (every existing arithmetic/comparison call
    site keeps working unchanged) — plus ``drift``, the drift record the
    upsert appended to the meta sidecar (``None`` when nothing was
    appended or the store carries no yardstick).  Lets a caller — the
    streaming maintenance harness in particular — see recall decay
    without re-opening ``_ivf_meta.json`` (VERDICT r13 #6)."""

    drift: dict | None

    def __new__(cls, n: int, drift: dict | None = None) -> "UpsertResult":
        obj = super().__new__(cls, n)
        obj.drift = drift
        return obj


def upsert_ivf_index(
    spark,
    path: str,
    new_embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    handle: "IvfStoreHandle | None" = None,
) -> "UpsertResult":
    """Append assignments for NEW ids into a saved IVF store — the
    index-maintenance half of incremental ingestion (VERDICT r11 #5:
    ``dedup_incremental_ingest`` matches new batches against a static
    index; this keeps that index current across rounds without a
    corpus-wide rebuild).

    Contracts:

    - **Old ids are bit-stable**: append-only — existing parquet files
      are never rewritten, so every previously stored (id, cell, vector)
      row survives byte-identical (pinned in tests/test_ivf_ownership).
    - **Same centroids as the original build** (the ``_centroids`` table
      :func:`save_ivf_index` persists): a vector assigns to the same cell
      whether it arrived in the base build or any later round, so search
      recall semantics never drift with ingestion order.
    - **Idempotent**: ids already present anti-join out before the
      append — re-shipping a batch appends nothing.

    Cost shape: one anti-join against the store's id column (parquet
    column prune — only ``id_col`` is read), one assignment pass over the
    genuinely-new rows (broadcast centroids, map-side max_by — the same
    shape as build_ivf_index), one partitioned append.  Returns an
    :class:`UpsertResult` — the number of new ids appended (an ``int``
    subclass) carrying the batch's drift record.

    **Drift detection** (VERDICT r12 #4): the frozen-centroids contract
    means recall decays SILENTLY as the upserted distribution drifts
    from the base build — so each appending upsert also records its
    batch's mean top-1 cosine (same rounded formula as the base
    yardstick) into ``_ivf_meta.json`` ``upserts``, with
    ``retrain_recommended`` set when the batch lands more than the
    stored ``drift_threshold`` below ``base_top1_mean``.  Cheap: one
    broadcast-join aggregate over the already-persisted new-row
    assignments, O(batch).  The per-cell manifest refreshes
    incrementally (touched cells only — no store-wide listing).
    """
    import os

    # One-shot callers open the store here (swap heals + sidecar read —
    # review r14 #1: the streaming harness reaches the store through
    # this function, not load_ivf_index, and must recover the same way;
    # a mid-delete-swap crash heals the same way, r16).  Streams pass a
    # handle built ONCE before the stream starts (r19, VERDICT r18 #1):
    # the heal/parse/plan work above is per-open fixed cost, and a
    # single-writer stream's store cannot have crashed mid-swap between
    # its own batches.
    if handle is None:
        handle = IvfStoreHandle(spark, path)
    meta = handle.meta
    seeds = handle.seeds
    if seeds is None:
        raise ValueError(
            "IVF store has no _centroids table — rebuild it with "
            "save_ivf_index on an index built by build_ivf_index (which "
            "records its centroids); without the original centroids an "
            "upsert would assign new vectors against a DIFFERENT codebook"
        )
    existing = handle.read_store(spark).select(id_col)
    fresh = new_embeddings.join(existing, id_col, "left_anti")
    base = (
        fresh.withColumn("_dv", as_double_vec(F.col(vec_col)))
        .withColumn("_n", norm(F.col(vec_col)))
    )
    # same assignment shape as build_ivf_index: broadcast centroids,
    # map-side max_by for top-1, window only when the stored index probes
    # wider (see build_ivf_index for why max_by, not a window, at top-1)
    cs = dot_raw(F.col("_dv"), F.col("sv")) / (F.col("_n") * F.col("sn"))
    # The drift yardstick's per-row cosine rides the assignment pass
    # (r19, guide §1.2): round(_cs, 6) for the WINNING cell is exactly
    # the cos6 the stats aggregate used to recompute through a second
    # broadcast join of the centroids — same expression over the same
    # doubles, so the batch mean (and the oracle-compared drift record)
    # is bit-identical while the stats job loses a whole join subtree.
    # The denom>0 guard (zero-norm vectors have no cosine — NULL, which
    # sum/avg skip) moves here with it.
    scored = (
        base.crossJoin(F.broadcast(seeds))
        .withColumn("_cs", cs)
        .withColumn(
            "_c6",
            F.when(F.col("_n") * F.col("sn") > 0, F.round(F.col("_cs"), 6)),
        )
    )
    nprobe = int(meta.get("nprobe", 1))
    if nprobe == 1:
        ranked = (
            scored.groupBy(F.col(id_col))
            .agg(
                F.max_by(
                    F.struct(F.col("cell"), F.col("_dv"), F.col("_n"), F.col("_c6")),
                    F.struct(F.col("_cs"), (-F.col("cell")).alias("_nc")),
                ).alias("_top")
            )
            .select(
                id_col,
                F.col("_top.cell").alias("cell"),
                F.lit(1).alias("_rn"),
                F.col("_top._dv").alias("_dv"),
                F.col("_top._n").alias("_n"),
                F.col("_top._c6").alias("_c6"),
            )
        )
    else:
        aw = W.partitionBy(id_col).orderBy(F.desc("_cs"), F.asc("cell"))
        ranked = (
            scored.withColumn("_rn", F.row_number().over(aw))
            .filter(F.col("_rn") <= nprobe)
            .select(id_col, "cell", "_rn", "_dv", "_n", "_c6")
        )
    # stored column order + the stats-only _c6 (stripped before writes).
    # localCheckpoint, not persist (r19, guide §5/§1.2): the lineage cut
    # means (a) the anti-join + assignment tree is analyzed/optimized
    # ONCE per batch instead of once per downstream action (three), and
    # (b) the cached plan carries NO file source, so appending to `path`
    # can no longer invalidate it mid-flight — which is what makes the
    # codes/assignments appends safe to OVERLAP below.  Blocks are freed
    # deterministically in the finally (_free_local_checkpoint —
    # the r18 leak objection was to blocks nobody freed).
    ranked = ranked.select(*meta["columns"], "_c6").localCheckpoint(eager=False)
    record: dict | None = None
    try:
        # ONE action backs every batch statistic (r18, guide §1.2/§2.4:
        # the previous shape ran FOUR driver actions over the same cached
        # batch — count, per-cell counts, the nprobe>1 id count, and the
        # _top1_mean aggregate — each a full job with scheduler+py4j
        # latency).  A single per-cell aggregate yields rows-per-cell
        # (manifest), appended-id count, and the drift yardstick's cosine
        # sum/count in one pass; the per-row cosine (_c6) was computed in
        # the assignment pass itself (r19), so this job no longer
        # re-joins the broadcast centroids at all.  The mean assembles on
        # the driver as sum/count before the same round(.,5) —
        # double-sum reorder noise is ~1e-13, far inside the rounding
        # step (the _top1_mean docstring's argument, unchanged).
        is_top = F.col("_rn") == 1
        cell_stats = (
            ranked.groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("_rows"),
                F.sum(F.when(is_top, 1).otherwise(0)).alias("_tops"),
                F.sum(F.when(is_top, F.col("_c6"))).alias("_cos_sum"),
                F.sum(
                    F.when(is_top & F.col("_c6").isNotNull(), 1).otherwise(0)
                ).alias("_cos_n"),
            )
            .collect()  # ≤ n_cells rows
        )
        n_new = int(sum(r["_tops"] for r in cell_stats))
        if n_new:
            # Batch stats BEFORE the appends: the pending marker staged
            # below needs per_cell, and the stats action is what
            # materializes the checkpoint the appends read.
            per_cell = {int(r["cell"]): int(r["_rows"]) for r in cell_stats}
            cos_n = sum(r["_cos_n"] for r in cell_stats)
            cos_sum = sum(r["_cos_sum"] for r in cell_stats if r["_cos_sum"] is not None)
            batch_mean = _round_half_up5(cos_sum / cos_n) if cos_n else None
            if batch_mean is not None and batch_mean != batch_mean:
                batch_mean = None  # NaN guard, as in _top1_mean
            # PQ codes maintenance (r16): encode ONLY the batch, with the
            # persisted training codebooks.  The codes meta is removed
            # FIRST so a crash anywhere in this window reads as "codes
            # missing — re-attach" (derived state), never as a torn
            # codes table.
            has_pq = os.path.isfile(os.path.join(path, _PQ_META))
            if has_pq:
                pq_meta = _read_pq_meta(path)
                books = handle.pq_books()
                os.remove(os.path.join(path, _PQ_META))

            def _append_codes():
                # file count sized to the BATCH (ADVICE r16 #3): a
                # constant left ~4 files per upsert regardless of batch
                # size, unbounded fragmentation after K upserts; now a
                # small batch appends ONE file and total code files stay
                # ≤ K × ceil(batch / rows-per-file), with
                # compact_ivf_store folding them back under
                # codes_n_files between ingests.
                n_code_files = max(1, -(-n_new // _PQ_CODES_ROWS_PER_FILE))
                (
                    pq_encode(
                        ranked.filter(F.col("_rn") == 1).select(
                            F.col(id_col).alias("id"), "_dv"
                        ),
                        books,
                        id_col="id",
                        vec_col="_dv",
                    )
                    .repartition(n_code_files, F.col("id"))
                    .write.mode("append")
                    .parquet(os.path.join(path, _PQ_CODES_DIR))
                )

            def _append_assignments():
                # cluster on cell before the partitioned append (r18,
                # guide §6): an unclustered append opens up to (shuffle
                # partitions) files per touched cell PER UPSERT —
                # measured ~30 files/cell after two sf0.1 upserts;
                # clustered, each upsert appends ONE file per touched
                # cell, so fragmentation (and the compaction debt it
                # creates) is bounded by upsert count, not by
                # upserts × partitions.  The exchange moves batch rows
                # only.
                ranked.select(*meta["columns"]).repartition(F.col("cell")).write.mode(
                    "append"
                ).partitionBy("cell").parquet(path)

            # Crash consistency (review r13 #1): a death between the append
            # and the manifest refresh would undercount FOREVER (the
            # checkpoint replay anti-joins to 0 and never re-refreshes).
            # Stage the intent first; the next open recounts the touched
            # cells from footers if the marker survived a crash.  A kept
            # handle skips the open's heal, so an earlier failed
            # mutation's marker is refreshed before this one replaces it.
            _CELL_SWAP.refresh_manifest(path)
            pre_counts = (
                _ivf_manifest_stats(path)
                if os.path.exists(os.path.join(path, IVF_MANIFEST_REL_PATH))
                else None
            )
            _CELL_SWAP.arm(path, {"cells": sorted(per_cell)})
            # The two appends OVERLAP (r19, guide §2.6): both read the
            # checkpointed batch blocks (no file source in the plan, so
            # the assignments append landing first cannot invalidate the
            # codes encode mid-flight — the r13 hazard the old sequential
            # order existed to avoid), and they write disjoint paths.
            # Commit ORDER is unchanged: manifest refresh after the
            # assignments append, pq meta strictly LAST — a crash
            # anywhere in the pool window reads exactly as before
            # (pending marker heals the manifest; missing pq meta means
            # re-attach).
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                fut_codes = pool.submit(_append_codes) if has_pq else None
                fut_asg = pool.submit(_append_assignments)
                fut_asg.result()
                _append_ivf_manifest(path, per_cell, pre_counts)
                swap.discard(os.path.join(path, _PENDING_MARKER))
                if fut_codes is not None:
                    fut_codes.result()
            if has_pq:
                swap.write_json(os.path.join(path, _PQ_META), pq_meta)
            base_mean = meta.get("base_top1_mean")
            threshold = meta.get("drift_threshold", IVF_DRIFT_THRESHOLD)
            drifted = (
                base_mean is not None
                and batch_mean is not None
                and (round(base_mean - batch_mean, 5) > threshold)
            )
            record = {
                "appended": n_new,
                "top1_mean": batch_mean,
                "drift": None
                if base_mean is None or batch_mean is None
                else round(base_mean - batch_mean, 5),
                "retrain_recommended": drifted,
            }
            meta.setdefault("upserts", []).append(record)
            # Bound the sidecar: a store upserted 10⁵+ times must not grow
            # an unbounded JSON list — keep the newest window (the drift
            # TREND is what retraining decisions read) and roll the rest
            # into counters so totals stay exact.
            if len(meta["upserts"]) > IVF_UPSERT_HISTORY_CAP:
                dropped = meta["upserts"][: -IVF_UPSERT_HISTORY_CAP]
                meta["upserts"] = meta["upserts"][-IVF_UPSERT_HISTORY_CAP:]
                meta["upserts_rolled_up"] = meta.get("upserts_rolled_up", 0) + len(dropped)
                meta["upserts_rolled_up_appended"] = meta.get(
                    "upserts_rolled_up_appended", 0
                ) + sum(int(u["appended"]) for u in dropped)
            if drifted:
                meta["retrain_recommended"] = True
            swap.write_json(os.path.join(path, _IVF_META), meta)
    finally:
        # deterministic release of the checkpoint blocks (DataFrame
        # .unpersist cannot reach an RDD-level checkpoint)
        from datafusion_bigtable_spark.operators.partitioning import _free_local_checkpoint

        _free_local_checkpoint(ranked)
    return UpsertResult(n_new, record)


def negated_centroid_mean_batch(
    spark, path: str, n: int = 50, start_id: int = 10_000_000
):
    """A deterministic DRIFTED batch for a saved store: ``n`` copies of
    the negated mean of the store's persisted centroids, at fresh ids.

    This is THE shift that provably trips drift detection on any
    non-degenerate codebook: c̄·cⱼ > 0 for every cell, so the batch
    scores negative top-1 cosine regardless of whether the corpus is
    clustered or isotropic (a plain negation of random vectors would NOT
    drift — max-cos over sign-symmetric centroids is distribution-
    invariant).  Shared by the drift/retrain registry queries and their
    tests so the recipe cannot diverge (review r13 #7).  Bounded driver
    state: n_cells centroid rows.
    """
    import os

    import numpy as np
    import pyarrow.parquet as _pq

    # n_cells rows of a local sidecar table: read with pyarrow on the
    # driver — zero Spark jobs (r18; the spark.read path cost a scan job
    # + a collect per call for a centroids-sized payload)
    sv = np.array(
        _pq.read_table(os.path.join(path, "_centroids"), columns=["sv"])
        .column("sv")
        .to_pylist()
    )
    anti = [float(x) for x in -sv.mean(axis=0)]
    return spark.createDataFrame(
        [(start_id + i, anti) for i in range(n)],
        "vec_id long, embedding array<double>",
    )


def retrain_ivf_index(
    spark,
    path: str,
    n_cells: int | None = None,
    codebook: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Rebuild a saved IVF store's codebook from its CURRENT vector set —
    the action the drift recommendation points at (``upsert_ivf_index``
    sets ``retrain_recommended`` when batches land far below the base
    build's top-1 yardstick; this is how the store recovers).

    Semantics: the retrained store is IDENTICAL to a from-scratch
    :func:`build_ivf_index` + :func:`save_ivf_index` over every vector
    currently stored (base build + all upserts) — new seed centroids by
    the same deterministic rule (``id < n_cells``, or an explicit
    ``codebook``, e.g. :func:`train_ivf_codebook` over the current set),
    every vector reassigned, meta/yardstick/manifest reset, the drift
    history cleared.  This is the ONE sanctioned full rewrite: a retrain
    is inherently a corpus-wide reassign (one scan × n_cells folds — the
    same cost as the original build), which is exactly why drift
    detection exists to tell you WHEN it is worth paying.

    Write-temp-then-swap like ``compact_cells_store``, through
    ``_RETRAIN_SWAP`` (sources/swap.py): a crash cannot destroy the DATA,
    and a crash between the two renames — when ``path`` itself does not
    exist — is healed by the next opener (VERDICT r13 #4).  Readers
    holding the old frame fail loud on vanished files rather than reading
    a half-rewritten table.  ``n_cells`` defaults to the stored
    codebook's size.
    Returns the number of vectors reindexed.
    """
    import os
    import shutil

    store = load_ivf_index(spark, path)
    if store.centroids is None:
        raise ValueError(
            "IVF store has no _centroids table — retrain needs the stored "
            "codebook size; rebuild with save_ivf_index on a "
            "build_ivf_index result"
        )
    if n_cells is None:
        # codebook size from the sidecar table's parquet FOOTERS (driver-
        # side metadata, zero Spark jobs — r18; the count() action cost a
        # scheduled job + py4j round-trip per retrain for an n_cells-row
        # table; same footer-truth pattern as negated_centroid_mean_batch)
        import glob as _glob

        import pyarrow.parquet as _pqt

        n_cells = sum(
            _pqt.ParquetFile(f).metadata.num_rows
            for f in _glob.glob(os.path.join(path, "_centroids", "*.parquet"))
        )
    # _dv IS the stored double vector — feed it back as the corpus.
    vectors = (
        store.assignments.filter(F.col("_rn") == 1)
        .select(F.col(id_col), F.col("_dv").alias(vec_col))
    )
    tmp = _RETRAIN_SWAP.tmp(path)
    shutil.rmtree(tmp, ignore_errors=True)
    with build_ivf_index(
        vectors,
        n_cells=n_cells,
        nprobe=store.nprobe,
        codebook=codebook,
        id_col=id_col,
        vec_col=vec_col,
    ) as idx:
        save_ivf_index(idx, tmp)
        # id count from the manifest the save just wrote (listing-only —
        # r18: the previous cache-backed count was still a full Spark
        # action per retrain); at nprobe=1 assignment rows == ids, and a
        # wider store falls back to the one count over the cached frame
        if idx.nprobe == 1:
            n = sum(m["rows"] for m in _read_ivf_manifest(tmp) or [])
        else:
            n = idx.assignments.filter(F.col("_rn") == 1).count()
    _RETRAIN_SWAP.swap(path)
    return n


def build_ivf_index_two_level(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    persist: bool = True,
) -> IvfIndex:
    """Hierarchical (coarse→fine) IVF assignment — the scale path past
    flat assignment's n × n_cells cosine folds (SCALE.md r10: with
    n_cells ∝ corpus/target the flat form is O(n²/target) COMPUTE even
    though its shuffle is linear).

    Two levels, both deterministic seed codebooks: coarse =
    first ⌈√n_cells⌉ vectors by id, fine = first n_cells.  Each fine
    seed maps to its argmax-cosine coarse seed (tiny, broadcast); each
    vector finds its coarse cell (n × √n_cells folds), then its fine
    cell among ONLY that coarse bucket's fine seeds (n × ~√n_cells
    folds) — ~2·n·√n_cells total, the classic two-level quantizer
    trade.  The result is a full partition into fine cells (every
    coarse bucket contains at least its own seed; every vector lands in
    exactly one fine cell), DIFFERENT from flat assignment near coarse
    boundaries — which is why this is a separate builder with its own
    oracle-checked query, not a flag that silently changes hashes.
    Ties break toward the smaller cell id at both levels, so the whole
    assignment is SQL-expressible and hash-checkable.

    Returns an :class:`IvfIndex` (nprobe=1) whose ``assignments`` have
    the same (id, cell, _rn, _dv, _n) shape the pair/search operators
    consume — the two-level build swaps in transparently.
    """
    import math

    c = math.ceil(math.sqrt(n_cells))
    base = embeddings.withColumn("_dv", as_double_vec(F.col(vec_col))).withColumn(
        "_n", norm(F.col(vec_col))
    )
    spark = embeddings.sparkSession
    p_conf = spark.conf.get("spark.sql.shuffle.partitions", "32")
    base = base.repartition(int(p_conf) if str(p_conf).isdigit() else 32, F.col(id_col))
    fine = base.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), F.col("_dv").alias("fv"), F.col("_n").alias("fn")
    )
    coarse = base.filter(F.col(id_col) < c).select(
        F.col(id_col).alias("ccell"), F.col("_dv").alias("cv"), F.col("_n").alias("cn")
    )

    # fine seed -> coarse bucket (n_cells × √n_cells — tiny)
    f2c = (
        fine.crossJoin(F.broadcast(coarse))
        .withColumn("_cs", dot_raw(F.col("fv"), F.col("cv")) / (F.col("fn") * F.col("cn")))
        .groupBy("cell")
        .agg(
            F.max_by(
                F.struct(F.col("ccell")), F.struct(F.col("_cs"), (-F.col("ccell")).alias("_nc"))
            ).alias("_t")
        )
        .select("cell", F.col("_t.ccell").alias("ccell"))
    )

    # vector -> coarse cell (n × √n_cells folds, map-side combined)
    vc = (
        base.crossJoin(F.broadcast(coarse))
        .withColumn("_cs", dot_raw(F.col("_dv"), F.col("cv")) / (F.col("_n") * F.col("cn")))
        .groupBy(F.col(id_col))
        .agg(
            F.max_by(
                F.struct(F.col("ccell"), F.col("_dv").alias("dv"), F.col("_n").alias("nn")),
                F.struct(F.col("_cs"), (-F.col("ccell")).alias("_nc")),
            ).alias("_t")
        )
        .select(
            id_col,
            F.col("_t.ccell").alias("ccell"),
            F.col("_t.dv").alias("_dv"),
            F.col("_t.nn").alias("_n"),
        )
    )

    # vector -> fine cell among its coarse bucket's seeds only.  LEFT
    # join + fail-loud guard (ADVICE r10): in exact arithmetic every
    # coarse bucket holds at least its own seed as a fine seed
    # (cos(s,s)=1 is the unique max), but f2c computes cos(s,s) as
    # dot/(n·n) in floats — if near-duplicate seeds let a cross score
    # tie-or-beat the self score, a coarse bucket can end up with zero
    # fine seeds while still winning some vector's argmax.  An inner
    # join would silently DROP those vectors from the partition (and
    # from every downstream dedup pair); the left join keeps them as a
    # null-cell row that _cell_or_raise turns into a loud error.
    cand = f2c.join(fine, "cell").select("ccell", "cell", "fv", "fn")
    ranked = (
        vc.join(F.broadcast(cand), "ccell", "left")
        .withColumn("_cs", dot_raw(F.col("_dv"), F.col("fv")) / (F.col("_n") * F.col("fn")))
        .groupBy(F.col(id_col))
        .agg(
            F.max_by(
                F.struct(F.col("cell"), F.col("_dv").alias("dv"), F.col("_n").alias("nn")),
                F.struct(F.col("_cs"), (-F.col("cell")).alias("_nc")),
            ).alias("_t")
        )
        .select(
            id_col,
            _cell_or_raise(F.col("_t.cell")).alias("cell"),
            F.lit(1).alias("_rn"),
            F.col("_t.dv").alias("_dv"),
            F.col("_t.nn").alias("_n"),
        )
    )
    if persist:
        ranked = ranked.persist()
    return IvfIndex(ranked, nprobe=1)


def _cell_or_raise(cell: Column) -> Column:
    """Pass a non-null cell assignment through; raise (executor-side,
    lazily, zero extra jobs) on null — the marker the two-level build's
    left join leaves when a vector's argmax coarse bucket has no fine
    seeds.  Assignment LOSS must surface as an error, never as rows
    silently missing from the index (the codebase's fail-loud
    convention; ADVICE r10)."""
    return F.when(cell.isNotNull(), cell).otherwise(
        F.raise_error(
            F.lit(
                "two-level IVF assignment lost a vector: its argmax coarse "
                "bucket has no fine seeds (floating-point near-duplicate "
                "coarse seeds); use build_ivf_index (flat) for this corpus"
            )
        )
    )


def topk_ivf(
    embeddings: DataFrame,
    query_pred: Column,
    n_cells: int = 16,
    k: int = 3,
    nprobe: int = 1,
    codebook: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: IvfIndex | None = None,
) -> DataFrame:
    """IVF ANN: coarse-quantizer cell assignment + nprobe-cell search —
    the other classic ANN family next to LSH (topk_lsh).

    The default codebook is the first ``n_cells`` vectors by id: a
    deterministic stand-in that keeps the operator fully oracle-checkable;
    pass ``codebook=train_ivf_codebook(...)`` for a k-means-refined one.
    Either way centroids are broadcast-small and the corpus never moves
    except its one shuffle on cell id.

    The corpus side lives in its top-1 cell; the QUERY side probes its
    top-``nprobe`` cells — recall rises with nprobe at ~nprobe× scoring
    cost, the standard IVF dial (the corpus/scored-pair volume still
    shrinks ~n_cells/nprobe× vs brute force).

    Cache lifecycle: pass ``index=build_ivf_index(...)`` to own the
    persisted assignment (and ``unpersist()`` it when done) — the result
    stays lazy and composable.  Without one, a throwaway index is built
    here, the (k-bounded) result is materialized eagerly, and the index
    is unpersisted before returning (:func:`materialize_owned`) — nothing
    leaks across a long session (ADVICE r9: the previous throwaway
    persisted with no owner).
    """
    owned = index is None
    if owned:
        index = build_ivf_index(embeddings, n_cells, nprobe, codebook, id_col, vec_col)
    if max(1, nprobe) > index.nprobe:
        raise ValueError(
            f"topk_ivf(nprobe={nprobe}) exceeds the supplied index's build "
            f"nprobe={index.nprobe}: the probe rows do not exist in the "
            "assignment — rebuild the index with the wider nprobe"
        )
    ranked = index.assignments
    assigned = ranked.filter(F.col("_rn") == 1)
    # an index built with a larger nprobe serves narrower searches: the
    # probe set re-filters to THIS call's nprobe
    q = ranked.filter(F.col("_rn") <= max(1, nprobe)).filter(query_pred).select(
        F.col(id_col).alias("query_id"), F.col("cell"), F.col("_dv").alias("qv"), F.col("_n").alias("qn")
    )
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col("cell"), F.col("_dv").alias("cv"), F.col("_n").alias("cn")
    )
    scored = (
        F.broadcast(q)
        .join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot_raw(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6).alias("score"),
        )
    )
    if nprobe > 1:
        # a (query, neighbor) pair can match through several probed cells;
        # dedup before ranking (nprobe=1 needs no extra exchange)
        scored = scored.groupBy("query_id", "neighbor_id").agg(F.first("score").alias("score"))
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    out = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    return materialize_owned(out, index) if owned else out


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    k_c: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Seed product-quantization codebooks: centroid ``c`` of subspace
    ``j`` is subvector ``j`` of the vector with id ``c`` — deterministic,
    so the whole PQ pipeline stays oracle-checkable (swap in k-means-
    refined subspace codebooks the same way train_ivf_codebook refines the
    IVF seed).  Returns ``[m][k_c][sub_dim]`` floats; codebooks are tiny
    by construction (m·k_c·sub_dim doubles), so the driver collect is the
    right plan — same documented stance as train_ivf_codebook.
    """
    rows = (
        embeddings.filter(F.col(id_col) < k_c)
        .select(id_col, as_double_vec(F.col(vec_col)).alias("_dv"))
        .orderBy(id_col)
        .collect()
    )
    dim = len(rows[0]["_dv"])
    sub = dim // m
    return [
        [list(rows[c]["_dv"][j * sub : (j + 1) * sub]) for c in range(len(rows))]
        for j in range(m)
    ]


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    k_c: int = 16,
    iters: int = 3,
    sample: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Lloyd-refined PER-SUBSPACE codebooks from a deterministic sample —
    the real PQ training step, mirroring ``train_ivf_codebook``'s stance:
    sample by md5 order (reproducible across partitionings), refine with
    k-means in numpy on the driver (codebooks are tiny by definition),
    return plain lists ready for ``pq_encode``/``topk_pq(codebooks=...)``.
    Each subspace trains independently on its slice — that independence is
    what makes PQ's m·k_c cells behave like k_c^m virtual centroids.
    Iterative → not SQL-reproducible, so the oracle-checked queries keep
    the seed codebooks; pytest pins that trained books do not lose
    reconstruction quality vs the seed ones.
    """
    import numpy as np

    rows = (
        embeddings.select(F.md5(F.col(id_col).cast("string")).alias("_h"), vec_col)
        .orderBy("_h", vec_col)
        .limit(sample)
        .collect()
    )
    X = np.array([r[1] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    sub = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]
        C = S[:k_c].copy()
        for _ in range(iters):
            d = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            labels = d.argmin(axis=1)
            for c in range(k_c):
                members = S[labels == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append([list(map(float, c)) for c in C])
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — each vector compressed to ``m`` subspace
    centroid ids (64 floats → 8 bytes at m=8/k_c≤256: the storage shrink
    that makes billion-vector indexes fit).

    Arrow-batched numpy kernel (mapInPandas), deliberately NOT a Catalyst
    expression: the expression form IS expressible (m·k_c inlined-literal
    dot folds + argmin, measured bit-identical output), but a ~10⁴-node
    tree costs Catalyst ~10 s of driver-side analysis PER PLAN, falls out
    of whole-stage codegen anyway, and evaluates interpreted — while the
    per-batch gemm ``‖c‖² − 2·(S @ Cᵀ)`` is exactly the kernel BLAS is
    for.  This is the sanctioned shape for the slow path: Arrow batches,
    vectorized numpy, never per-row Python.  Plan stays map-only — zero
    joins, zero shuffles; the codebooks ship in the (tiny) task closure.

    Ties (exact duplicate centroids) break to the LOWEST code via
    argmin's first-match — same rule as the SQL oracle's (distance, code)
    ordering.  The gemm's summation order can differ from a sequential
    fold in the last ulp; real-valued corpora put centroid-distance gaps
    many orders above that (the cross-engine oracle pins it empirically),
    and a true tie only arises from duplicate centroids, where both
    engines pick the lowest code.
    """
    import numpy as np

    m = len(codebooks)
    sub_dim = len(codebooks[0][0])
    C = [np.asarray(book, dtype=np.float64) for book in codebooks]
    cc = [np.sum(Cj * Cj, axis=1) for Cj in C]

    def enc_batches(batches):
        import pandas as pd

        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                S = X[:, j * sub_dim : (j + 1) * sub_dim]
                codes[:, j] = np.argmin(cc[j][None, :] - 2.0 * (S @ C[j].T), axis=1)
            yield pd.DataFrame({"id": pdf[id_col], "codes": codes.tolist()})

    return embeddings.select(id_col, vec_col).mapInPandas(enc_batches, "id long, codes array<int>")


def _pq_cents_df(spark, codebooks) -> DataFrame:
    """Broadcast-size (j, code, centroid) table from nested codebooks."""
    return spark.createDataFrame(
        [
            (j, c, list(map(float, cent)))
            for j, book in enumerate(codebooks)
            for c, cent in enumerate(book)
        ],
        "j INT, code INT, cent ARRAY<DOUBLE>",
    )


def _pq_query_slices(embeddings, query_pred, m, sub_dim, id_col, vec_col) -> DataFrame:
    """(query_id, j, qs): each query vector exploded into its m subspace
    slices — the per-query half of the ADC lookup."""
    dv = as_double_vec(F.col(vec_col))
    return embeddings.filter(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.posexplode(
            F.array(*[F.slice(dv, j * sub_dim + 1, sub_dim) for j in range(m)])
        ).alias("j", "qs"),
    )


def _adc_score_topk(corpus: DataFrame, cents: DataFrame, q: DataFrame, q_join_cols: list, k: int) -> DataFrame:
    """Shared ADC scoring tail for the PQ family: per-subspace centroid
    lookup (broadcast cents on (j, code)), broadcast query slices joined on
    ``q_join_cols`` (["j"] for plain PQ; ["cell", "j"] when an IVF cell
    restricts candidates), one aggregation of the m partial dots per
    (query, neighbor), rank-k window.  Single place for the rounding grid
    and tie-break so topk_pq and topk_ivfpq can never diverge."""
    scored = (
        corpus.join(F.broadcast(cents), ["j", "code"])
        .join(F.broadcast(q), q_join_cols)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum(dot_raw(F.col("qs"), F.col("cent"))), 6).alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def topk_pq(
    embeddings: DataFrame,
    query_pred: Column,
    m: int = 8,
    k_c: int = 16,
    k: int = 3,
    codebooks: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation — the
    third classic ANN family next to LSH (topk_lsh) and IVF (topk_ivf).

    The corpus is seen ONLY through its codes: score(q, v) ≈ dot(q, v̂) =
    Σⱼ dot(qⱼ, centroid[j][codesⱼ(v)]) — m inner products against a tiny
    codebook instead of d multiplies against the raw vector, and the raw
    corpus vectors never ship to the scorer.  Plan: corpus encodes
    map-only (pq_encode), codes explode to (id, j, code) and join the
    BROADCAST (j, code, centroid) table and the BROADCAST per-subspace
    query slices; one shuffle aggregates the m partial dots per (query,
    neighbor).  At 100 TB you'd compose this with IVF cells (probe, then
    ADC-score inside the cell) — the operators chain because both key by
    the same id.

    Output matches topk_bruteforce: (query_id, neighbor_id, score, rk),
    score = approximate dot rounded to 6, ties on neighbor id.
    """
    if codebooks is None:
        codebooks = pq_codebooks(embeddings, m, k_c, id_col, vec_col)
    m = len(codebooks)
    sub_dim = len(codebooks[0][0])

    corpus = pq_encode(embeddings, codebooks, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), F.posexplode("codes").alias("j", "code")
    )
    q = _pq_query_slices(embeddings, query_pred, m, sub_dim, id_col, vec_col)
    cents = _pq_cents_df(embeddings.sparkSession, codebooks)
    return _adc_score_topk(corpus, cents, q, ["j"], k)


def topk_ivfpq(
    embeddings: DataFrame,
    query_pred: Column,
    n_cells: int = 16,
    m: int = 8,
    k_c: int = 16,
    k: int = 3,
    codebooks: list[list[list[float]]] | None = None,
    index: IvfIndex | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF × PQ — the composition a billion-vector index actually runs:
    the IVF cell restricts WHICH candidates are scored (≈n_cells× fewer
    pairs), PQ codes decide HOW each one is scored (m centroid lookups,
    raw vectors never move).  The two operators compose on nothing more
    than the shared vector id — the cell column narrows the scoring join,
    everything else is topk_pq's ADC plan unchanged.

    Pass ``index=build_ivf_index(...)`` / ``codebooks=...`` to reuse a
    built index across queries (and own its unpersist) — lazy result.
    Defaults build a throwaway whose k-bounded result is materialized
    and whose cache is dropped before returning, same ownership stance
    as topk_ivf (ADVICE r9).
    """
    owned = index is None
    if owned:
        index = build_ivf_index(embeddings, n_cells, 1, None, id_col, vec_col)
    assigned = index.assignments.filter(F.col("_rn") == 1).select(
        F.col(id_col).alias("id"), "cell"
    )
    if codebooks is None:
        codebooks = pq_codebooks(embeddings, m, k_c, id_col, vec_col)
    m = len(codebooks)
    sub_dim = len(codebooks[0][0])

    corpus = (
        pq_encode(embeddings, codebooks, id_col, vec_col)
        .join(assigned, "id")
        .select(
            F.col("id").alias("neighbor_id"), "cell", F.posexplode("codes").alias("j", "code")
        )
    )
    # query slices carry the query's IVF cell so the ADC join is
    # cell-restricted — the only difference from topk_pq's plan.  No
    # broadcast hint here: `assigned` is corpus-sized; the tiny query side
    # is what AQE broadcasts.
    q = _pq_query_slices(embeddings, query_pred, m, sub_dim, id_col, vec_col).join(
        assigned.withColumnRenamed("id", "query_id"), "query_id"
    )
    cents = _pq_cents_df(embeddings.sparkSession, codebooks)
    out = _adc_score_topk(corpus, cents, q, ["cell", "j"], k)
    return materialize_owned(out, index) if owned else out


def sign_bucket(vec: Column, dims: Sequence[int]) -> Column:
    """Axis-aligned hyperplane LSH signature: '1'/'0' per probed dimension.
    ``dims`` are 0-based; element_at is 1-based."""
    bits = [
        F.when(F.element_at(vec, d + 1) >= 0, F.lit("1")).otherwise(F.lit("0")) for d in dims
    ]
    return F.concat(*bits)


def topk_lsh(
    embeddings: DataFrame,
    query_pred: Column,
    dims: Sequence[int] = (0, 3, 7, 11),
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k within the query's LSH bucket only.

    2^len(dims) buckets; the bucket equi-join replaces the cross join, so
    scored pairs shrink by ~2^len(dims) — the scale path for corpus-side
    growth.  Output schema matches topk_bruteforce.
    """
    bucketed = embeddings.withColumn("bucket", sign_bucket(F.col(vec_col), dims)).withColumn(
        "_dv", as_double_vec(F.col(vec_col))
    )
    q = bucketed.filter(query_pred).select(
        F.col(id_col).alias("query_id"), F.col("_dv").alias("qv"), F.col("bucket"),
        norm(F.col(vec_col)).alias("qn"),
    )
    c = bucketed.select(
        F.col(id_col).alias("neighbor_id"), F.col("_dv").alias("cv"), F.col("bucket"),
        norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot_raw(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6).alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


_JL_A, _JL_B, _JL_SHIFT = 2654435761, 987654323, 7


def jl_signs(in_dims: int, out_dims: int) -> list[list[float]]:
    """Deterministic ±1 Johnson-Lindenstrauss sign matrix (Achlioptas
    2003 two-point form, unit variance).  The sign comes from bit 7 of
    an integer mix of (i, j) — pure arithmetic, no RNG state — so both
    engines (and any future run) reproduce the matrix from the formula
    alone.  Bit 0 would degenerate to the checkerboard parity of i+j
    (odd multipliers preserve parity); a mid bit mixes."""
    return [
        [
            1.0 if ((i * _JL_A + (j + 1) * _JL_B) >> _JL_SHIFT) & 1 else -1.0
            for i in range(in_dims)
        ]
        for j in range(out_dims)
    ]


def random_projection(
    embeddings: DataFrame,
    out_dims: int = 16,
    in_dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """JL random projection — the dimensionality-reduction prep a 100 TB
    embedding pipeline runs before ANN/dedup when the native dimension
    is too wide: ``p[j] = Σ_i v[i]·s(i,j) / √out_dims`` with a ±1 sign
    matrix, which preserves pairwise distances within (1±ε) for
    ε ≈ √(8·ln n / out_dims) (Johnson-Lindenstrauss; Achlioptas 2003
    shows the two-point ±1 distribution suffices).

    Matrix-free and shuffle-free: the sign matrix is a deterministic
    arithmetic formula (:func:`jl_signs`) inlined as array literals, so
    the whole operator is a per-row Catalyst fold fused into the scan —
    zero exchanges, zero Python, nothing broadcast.  Output is one
    ROUNDED double column per target dim (``p0..p{k-1}``), the
    hash-comparable shape (array-typed doubles stringify with repr
    noise; top-level floats round cleanly on both engines).

    Left-to-right fold (F.aggregate ≡ DuckDB list_reduce) keeps the
    float arithmetic bit-reproducible across engines — the
    embedding_normalize_trunc contract.
    """
    import math

    signs = jl_signs(in_dims, out_dims)
    scale = math.sqrt(out_dims)
    # zip_with pads the shorter side with nulls, so a corpus whose
    # embedding length drifts from in_dims would otherwise emit all-null
    # projection columns; dimension drift must fail loud instead
    # (ADVICE r10 — the codebase's stated convention).
    vec = F.col(vec_col)
    dv = F.when(
        F.size(vec) == F.lit(in_dims),
        F.transform(vec, lambda x: x.cast("double")),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("random_projection: embedding length "),
                F.size(vec).cast("string"),
                F.lit(f" != in_dims={in_dims}"),
            )
        )
    )
    cols = []
    for j in range(out_dims):
        sgn = F.array(*[F.lit(s) for s in signs[j]])
        dot = F.aggregate(
            F.zip_with(dv, sgn, lambda x, s: x * s), F.lit(0.0), lambda a, b: a + b
        )
        cols.append(F.round(dot / F.lit(scale), 6).alias(f"p{j}"))
    return embeddings.select(F.col(id_col), *cols)


def centroid_outlier_scores(
    embeddings: DataFrame,
    threshold: float = 0.0,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic outlier filtering for a curated corpus: each vector's
    cosine to its OWN cluster centroid, with vectors below ``threshold``
    flagged — the standard "drop samples that disagree with their
    assigned concept" gate in embedding-based data curation.

    Scale shape (100 TB of vectors):
    - centroids come from one explode + (label, pos) average — map-side
      partial aggregation keeps shuffle traffic at n_labels x dims
      doubles per input partition, independent of corpus size;
    - the centroid table (n_labels x dims) is broadcast back, so raw
      vectors are scored in place and NEVER shuffle;
    - per-vector norms and double-casts are computed once (the
      dedup/similarity family's shared discipline).

    A zero-norm centroid (a cluster summing to the origin) yields NULL
    cosine rather than a division error; the caller decides.  Scores are
    rounded to 6 before the threshold compare so the flag derives from
    the same number an external oracle sees.
    """
    base = (
        embeddings.select(id_col, label_col, vec_col)
        .withColumn("_dv", as_double_vec(F.col(vec_col)))
        .withColumn("_norm", norm(F.col(vec_col)))
    )
    ex = base.select(label_col, F.posexplode("_dv").alias("_pos", "_v"))
    cent = (
        ex.groupBy(label_col, "_pos")
        .agg(F.avg("_v").alias("_c"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_c"))),
                lambda s: s["_c"],
            ).alias("_cvec")
        )
        .withColumn("_cnorm", F.sqrt(dot_raw(F.col("_cvec"), F.col("_cvec"))))
    )
    cos = F.round(
        dot_raw(F.col("_dv"), F.col("_cvec")) / (F.col("_norm") * F.col("_cnorm")), 6
    )
    return (
        base.join(F.broadcast(cent), label_col)
        .select(
            F.col(id_col),
            F.col(label_col),
            cos.alias("centroid_cosine"),
            (cos < F.lit(threshold)).alias("is_outlier"),
        )
    )
