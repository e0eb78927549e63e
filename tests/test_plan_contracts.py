"""Physical-plan contracts for the perf-critical queries.

The oracle gate proves results are RIGHT; these prove the plans stay the
SHAPE that survives 100 TB — filters reaching the parquet scan, scans
pruned to the referenced columns, aggregates combining map-side before
the shuffle, and join decompositions that never fall back to a cartesian.
Each contract is exactly the property a scale-up depends on; a refactor
that silently loses one now fails here instead of in a 1000-executor
post-mortem.
"""

from __future__ import annotations

import pytest

from datafusion_bigtable_spark import queries as Q


def _plan(spark, df, mode="simple") -> str:
    jvm = spark.sparkContext._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def _q(spark, sf_dir, name):
    return Q.REGISTRY[name].fn(spark, sf_dir)


def test_q6_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = _plan(spark, _q(spark, sf_dir, "tpch_q6_revenue_change"), "formatted")
    # the selective predicates must reach the parquet scan...
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan or "In(l_discount" in plan
    # ...and the scan must read ONLY the referenced columns
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_shipdate" in read and "l_discount" in read
    for col in ("l_orderkey", "l_returnflag", "l_tax", "l_partkey"):
        assert col not in read, f"unpruned column {col} in {read}"


def test_q1_partial_aggregation_before_shuffle(spark, sf_dir):
    plan = _plan(spark, _q(spark, sf_dir, "tpch_q1_pricing_summary"))
    # map-side combine: partial aggregate BELOW the exchange (later in the
    # bottom-up physical string), final above it
    assert "partial_sum" in plan
    ex = plan.index("Exchange")
    assert plan.index("partial_sum") > ex, "partial aggregate not below the shuffle"
    # pruning: q1 never touches the join keys
    read = next(l for l in _plan(spark, _q(spark, sf_dir, "tpch_q1_pricing_summary"), "formatted").splitlines() if "ReadSchema" in l)
    assert "l_partkey" not in read and "l_suppkey" not in read


# Join-bearing queries whose decomposition must NEVER degrade to an
# unbounded pairing (the similarity queries' broadcast-seeded crossJoins
# are deliberate and excluded — see VERDICT r4 anti-pattern audit).
NO_CARTESIAN = [
    "interval_join_order_events",
    "asof_join_latest_event",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q10_returned_items",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_keep_canonical",
    "pipeline_curated_corpus",
    "semi_join_active_customers",
    "anti_join_idle_customers",
]


@pytest.mark.parametrize("name", NO_CARTESIAN)
def test_no_cartesian_or_nested_loop(spark, sf_dir, name):
    plan = _plan(spark, _q(spark, sf_dir, name))
    assert "CartesianProduct" not in plan, f"{name} degraded to a cartesian"
    assert "BroadcastNestedLoopJoin" not in plan, f"{name} degraded to a nested loop"


def test_interval_join_is_equi_join_on_key_and_bucket(spark, sf_dir):
    # the bucketing decomposition's whole point: Catalyst must see an
    # EQUI-join (hash/broadcast-hash/sort-merge on (key, bucket)) with the
    # range predicate as a residual, never a pure-range join
    plan = _plan(spark, _q(spark, sf_dir, "interval_join_order_events"))
    assert any(j in plan for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
    assert "_bkt" in plan and "_ibkt" in plan


def test_dim_joins_broadcast_small_side(spark, sf_dir):
    # star joins against nation/region/customer dims must broadcast the
    # dim side (no shuffle of the fact table for the join) at test SF —
    # the same decision AQE re-makes from runtime stats at 100 TB
    for name in ("tpch_q5_local_supplier_volume", "outer_join_nation_customer_counts"):
        plan = _plan(spark, _q(spark, sf_dir, name))
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, name


def test_curation_gate_materialized_once(spark, sf_dir):
    # pipeline_curated_corpus's 100 TB property (r18): the curation gate
    # (regex token counts + langid over full text) feeds TWO branches —
    # the LSH pair pipeline and the per-source accounting — and is
    # computed ONCE.  The returned plan must consume the lazily
    # checkpointed gate output, not re-run the Filter-over-scan subtree
    # per branch (the pre-r18 shape re-scanned and re-gated the raw
    # documents for the accounting branch).
    plan = _plan(spark, _q(spark, sf_dir, "pipeline_curated_corpus"), "formatted")
    assert "ExistingRDD" in plan, "gate output not materialized (checkpoint missing)"
    assert "documents.parquet" not in plan, "accounting branch re-scans raw documents"


def test_bt_to_df_is_the_bigtable_scan_with_no_exchange(spark, composite_config):
    # the connector's assembly contract (bigtable_table.py module doc): a
    # key-pruned to_df is the bigtable Python data source's scan, whose
    # tasks filter, pivot and decode their own key ranges — at 100 TB the
    # cells never move
    from datafusion_bigtable_spark.plans.composer import Between, Eq, In
    from datafusion_bigtable_spark.sources.bigtable_table import BigtableTable

    df = BigtableTable(composite_config).to_df(
        spark,
        predicates=[
            Eq("region", "us-west2"),
            In("balloon_id", ("3698",)),
            Between("event_minute", "2021-03-05-1200", "2021-03-05-1202"),
        ],
    )
    plan = _plan(spark, df)
    assert "Exchange" not in plan, f"to_df should not shuffle:\n{plan}"
    assert "BatchScan bigtable" in plan and "(Python)" in plan, plan


def test_decontaminate_broadcasts_benchmark_shingles(spark, sf_dir):
    # the benchmark/eval shingle set must broadcast (it is tiny next to
    # the corpus) — a shuffle join here would reshuffle the whole corpus
    # shingle table against a few-doc eval set
    plan = _plan(spark, _q(spark, sf_dir, "decontaminate_vs_benchmark"))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_chunking_is_shuffle_free(spark, sf_dir):
    # chunking is a narrow transform of the scan (sequence+explode):
    # ANY exchange in this plan means the fan-out stopped being
    # partition-local — the property that lets it chunk 100 TB in place
    plan = _plan(spark, _q(spark, sf_dir, "text_chunk_documents"))
    assert "Exchange" not in plan, f"chunking should not shuffle:\n{plan}"
    assert "Generate explode" in plan or "Generate" in plan


def test_repetition_signals_zero_shuffle(spark, sf_dir):
    """The repetition detectors are array expressions over each doc's own
    word list — the plan must be a narrow transform of the scan (no
    Exchange at all): gating 100 TB costs one pass that the scan already
    pays."""
    plan = _plan(spark, _q(spark, sf_dir, "text_repetition_signals"))
    assert "Exchange" not in plan, "repetition signals introduced a shuffle"


def test_tfidf_single_tokenize_pass(spark, sf_dir):
    """tf is consumed by BOTH the join probe and the df aggregate; without
    explicit materialization column pruning defeats ReuseExchange and the
    corpus is scanned+tokenized twice.  Pin: exactly one parquet scan of
    documents' text, and the vocabulary joins back as a broadcast."""
    df = _q(spark, sf_dir, "text_tfidf_top_terms")
    plan = _plan(spark, df)
    # tokenization lives inside the checkpointed tf RDD: BOTH consumers
    # must read it (2 ExistingRDD scans), and NO parquet scan may carry
    # the text column (recomputation would re-tokenize from source)
    ck_scans = [l for l in plan.splitlines() if "Scan ExistingRDD" in l and "tf" in l]
    assert len(ck_scans) == 2, f"expected both branches on the checkpoint:\n{plan}"
    text_scans = [
        l for l in plan.splitlines() if "FileScan" in l and "text" in l
    ]
    assert not text_scans, "corpus re-tokenized from source:\n" + "\n".join(text_scans)
    assert "BroadcastHashJoin" in plan, "vocabulary df table not broadcast"


def test_scd2_single_shuffle(spark, sf_dir):
    """Change detection (lag) and interval build (lead) share one window
    spec — the whole changelog compaction must plan as ONE exchange."""
    plan = _plan(spark, _q(spark, sf_dir, "scd2_user_segments"))
    assert plan.count("Exchange") == 1, f"SCD2 shuffled more than once:\n{plan}"


def test_shard_assign_partial_aggregation(spark, sf_dir):
    """The shard audit must combine map-side: the exchange carries
    per-shard partials, not raw docs."""
    plan = _plan(spark, _q(spark, sf_dir, "corpus_shard_assign"))
    assert "partial_count" in plan or "partial_sum" in plan
    assert plan.index("partial_") > plan.index("Exchange"), "no map-side combine"


def test_dynamic_partition_pruning_on_date_lake(spark, sf_dir, tmp_path):
    """The deployment layout SCALE.md recommends — facts date-partitioned
    on disk — must actually get runtime partition pruning: joining through
    a filtered dimension injects a dynamicpruning subquery into the fact
    scan's PartitionFilters, so only the dimension's surviving days are
    read.  At 100 TB this is the difference between scanning 3 days and
    scanning 3 years.  (DPP needs a real source on the build side — a
    LocalRelation dim silently skips it, which is exactly the kind of
    regression this pins.)"""
    from pyspark.sql import functions as F

    from datafusion_bigtable_spark.queries import load_events

    ev = load_events(spark, sf_dir)
    lake = str(tmp_path / "events_lake")
    dimp = str(tmp_path / "day_dim")
    ev.withColumn("day", F.to_date("ts")).write.partitionBy("day").parquet(lake)
    (
        ev.select(F.to_date("ts").alias("day")).distinct()
        .withColumn("flag", (F.dayofmonth("day") <= 3).cast("int"))
        .write.parquet(dimp)
    )

    facts = spark.read.parquet(lake)
    dim = spark.read.parquet(dimp).filter("flag = 1")
    j = facts.join(dim, "day").groupBy("day").agg(F.count("*").alias("n"))
    j.collect()  # DPP materializes in the EXECUTED plan
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), f"no DPP in fact scan:\n{plan}"
    assert j.count() == 3  # only the filtered days were aggregated


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    """Sort-merge-bucket co-location — the 100 TB fact⋈fact technique
    (neither side broadcastable): tables bucketed+sorted on the join key
    join with NO exchange under the SortMergeJoin; the only shuffle left
    is the downstream aggregation.  This is the layout the cells store's
    range partitioning plays for key scans, applied to relational joins."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # forbid broadcast so the contract exercises the SMB path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("t_smb_li")
        od.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("t_smb_od")
        j = (
            spark.table("t_smb_li")
            .join(spark.table("t_smb_od"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("q"))
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        final = plan.split("+- == Initial Plan ==")[0]
        assert "SortMergeJoin" in final
        assert "Bucketed: true" in final, "scans did not use the bucket layout"
        # the single exchange is the aggregation's — the JOIN itself moved
        # no data
        n_ex = sum("Exchange hashpartitioning" in l for l in final.splitlines())
        assert n_ex == 1, f"bucketed join still shuffled:\n{final}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_smb_li")
        spark.sql("DROP TABLE IF EXISTS t_smb_od")


def test_boilerplate_single_tokenize_per_scan(spark, sf_dir):
    """The gram transform must reference a MATERIALIZED token array, not
    an inlined regex split: inlined, the split becomes a free variable of
    the transform lambda and re-evaluates once per gram element (measured
    8x on the sf0.1 gram scan).  Pin: exactly one split per scan branch
    (the op deliberately scans twice — df aggregate + tagged count), both
    inside a Project aliasing the array, never inside a lambdafunction."""
    plan = _plan(spark, _q(spark, sf_dir, "text_boilerplate_ngrams"))
    assert plan.count("split(lower") == 2, f"tokenize not once-per-scan:\n{plan}"
    for line in plan.splitlines():
        if "split(lower" in line:
            head = line.split("lambdafunction", 1)[0]
            assert "split(lower" in head, f"split inlined into a lambda:\n{line}"


def test_exact_percentile_two_row_shape(spark, sf_dir):
    """The order-statistic selector must stay driver-safe for ANY p
    (VERDICT r7 #2): values range-partition (distributed sort, never a
    single-partition window), ranks resolve per-partition, and only the
    requested ranks survive the final filter — so the driver sees 2 rows
    whether p is 0.01 or 0.5.  The old limit(k).collect() form pulled
    O(p*n) rows through TakeOrderedAndProject."""
    from datafusion_bigtable_spark.operators.stats import order_statistics_df

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n = li.count()
    k = n // 2  # a MEDIAN-position rank: the case the old form couldn't scale to
    df = order_statistics_df(li, "l_extendedprice", [k, k + 1])
    plan = _plan(spark, df)
    assert "rangepartitioning" in plan, "values not range-partitioned"
    assert "TakeOrderedAndProject" not in plan
    assert "_rk" in plan and "Filter" in plan
    # the window is per-range-partition, never a global orderBy
    assert "Window [row_number()" in plan and "_pid" in plan
    rows = df.collect()
    assert len(rows) == 2


def test_boilerplate_join_falls_back_when_boiler_large(spark):
    """VERDICT r7 #3: the boiler->gram join must NOT force a broadcast.
    With the adaptive broadcast thresholds squeezed to zero (standing in
    for a corpus whose repeated-gram set exceeds the broadcast limit),
    the executed plan must keep a shuffle join on the gram key — and the
    counts must be identical to the broadcast path's."""
    from datafusion_bigtable_spark.operators.boilerplate import boilerplate_ngram_stats

    docs = spark.createDataFrame(
        [(i, "shared footer text repeated on every page here") for i in range(1, 9)]
        + [(9, "original words only in this document alone")],
        "doc_id long, text string",
    )
    want = {(r.doc_id, r.total_ngrams, r.boilerplate_ngrams, r.flagged)
            for r in boilerplate_ngram_stats(docs, n=3, min_df=2).collect()}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        out = boilerplate_ngram_stats(docs, n=3, min_df=2)
        got = {(r.doc_id, r.total_ngrams, r.boilerplate_ngrams, r.flagged)
               for r in out.collect()}
        final = out._jdf.queryExecution().executedPlan().toString().split(
            "+- == Initial Plan =="
        )[0]
        assert "BroadcastHashJoin" not in final, final
        assert "SortMergeJoin" in final or "ShuffledHashJoin" in final, final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert got == want
    assert len(got) == 9


def test_embedding_dedup_ivf_blocks_on_cell(spark, sf_dir):
    """VERDICT r7 #8: the IVF-blocked embedding dedup must pair ONLY
    within a cell — an equi-join keyed on the cell assignment (Σ|cell|²),
    with the id_a < id_b ordering as a residual, never an unbounded
    pairing of vectors.  (The codebook crossJoin inside the assignment is
    the deliberate broadcast-seeded one, n_cells rows.)

    Inspects the LAZY caller-owned-index path: the registered query's
    throwaway path materializes eagerly (r10 ownership fix), which
    truncates the visible plan to the checkpoint scan — the join shape
    is identical, only built one call earlier."""
    from datafusion_bigtable_spark.operators.dedup import embedding_dup_pairs_ivf
    from datafusion_bigtable_spark.operators.similarity import build_ivf_index

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with build_ivf_index(e, n_cells=16, nprobe=1) as idx:
        df = embedding_dup_pairs_ivf(e, threshold=0.4, index=idx)
        plan = _plan(spark, df)
    joins = [l for l in plan.splitlines()
             if any(j in l for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))]
    assert any("cell" in l for l in joins), f"no equi-join on cell:\n{plan}"
    assert "CartesianProduct" not in plan
    # every nested-loop join in the tree is the deliberate n_cells-row
    # codebook seeding (BuildRight over the broadcast seeds), printed once
    # per self-join branch of the cached assignment's lineage — never a
    # pairing of the vectors themselves
    for l in plan.splitlines():
        if "BroadcastNestedLoopJoin" in l:
            assert "BuildRight" in l, f"unexpected nested loop:\n{l}"


def test_order_statistics_single_shared_range_exchange(spark, sf_dir):
    """ADVICE r9 (stats.py): ``_pid`` comes from spark_partition_id()
    AFTER repartitionByRange, and two branches (per-partition counts,
    final rank join) consume it.  Range partitioning samples boundaries
    at runtime, so if each branch recomputed its own exchange the pids
    could disagree and ranks would silently skew — correctness DEPENDS
    on the exchange being shared.  Pin it: the FINAL adaptive plan must
    contain exactly one rangepartitioning exchange on the value stream
    plus a ReusedExchange for the second consumer."""
    from datafusion_bigtable_spark.operators.stats import order_statistics_df

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = order_statistics_df(li, "l_extendedprice", [10, 500])
    rows = df.collect()  # reuse is only visible in the executed final plan
    assert [int(r["_rk"]) for r in rows] == [10, 500]
    final = df._jdf.queryExecution().executedPlan().toString().split(
        "+- == Initial Plan =="
    )[0]
    n_range = sum(
        1
        for l in final.splitlines()
        if "Exchange rangepartitioning" in l and "ReusedExchange" not in l
    )
    assert n_range == 1, f"value stream repartitioned {n_range}x:\n{final}"
    assert "ReusedExchange" in final, f"second consumer did not reuse:\n{final}"


def test_grouped_exact_quantiles_no_global_window(spark, sf_dir):
    """grouped_exact_percentiles' 100 TB property: the VALUE stream is
    range-partitioned and ranked per (group, partition) — never a global
    or per-group single-partition window over the values, never a
    TakeOrdered of a data-dependent k.  (The only unpartitioned window
    runs over the tiny (group x partition) counts aggregate.)"""
    from datafusion_bigtable_spark.operators.stats import grouped_exact_percentiles

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = grouped_exact_percentiles(li, "l_returnflag", "l_extendedprice", [0.5])
    plan = _plan(spark, df)
    assert "rangepartitioning" in plan
    assert "TakeOrderedAndProject" not in plan
    # every window over the value column must be keyed by (_g, _pid)
    for line in plan.splitlines():
        if "Window [row_number()" in line:
            assert "_pid" in line and "_g" in line, line


def test_perplexity_model_joins_broadcast(spark, sf_dir):
    """ngram_perplexity's scale property: BOTH model tables are
    alphabet-bounded (37^3 trigrams, 37^2 contexts), so they broadcast —
    the gram stream must never shuffle for the scoring joins."""
    plan = _plan(spark, _q(spark, sf_dir, "text_ngram_perplexity"))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line:
            raise AssertionError(f"scoring join shuffled the gram stream:\n{line}")


def test_random_projection_scan_fused_and_norm_preserving(spark, sf_dir):
    """JL projection contracts: (a) the whole operator fuses into the
    scan — zero exchanges, zero Python; (b) with unit-variance ±1/√k
    entries, E‖p‖² = ‖v‖², so per-vector norm ratios concentrate near 1
    (k=16 → loose per-vector band, tight mean)."""
    import math

    from datafusion_bigtable_spark.operators.similarity import random_projection

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = random_projection(e, out_dims=16, in_dims=64)
    plan = _plan(spark, df)
    assert "Exchange" not in plan, f"projection should be scan-fused:\n{plan}"
    assert "Python" not in plan

    orig = {r["vec_id"]: r["embedding"] for r in e.limit(64).collect()}
    proj = {r["vec_id"]: [r[f"p{j}"] for j in range(16)] for r in df.limit(64).collect()}
    ratios = []
    for vid, v in orig.items():
        nv = math.sqrt(sum(float(x) ** 2 for x in v))
        np_ = math.sqrt(sum(x**2 for x in proj[vid]))
        ratios.append(np_ / nv)
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.2, mean
    # k=16 concentration is loose per-vector (measured band on this
    # fixed matrix + corpus: 0.287 .. 1.914); the pin is "no collapse,
    # no blow-up", the tight invariant is the mean
    assert all(0.2 < r < 2.5 for r in ratios), (min(ratios), max(ratios))


def test_word_perplexity_joins_all_broadcast(spark, sf_dir):
    """word_perplexity's scale property (VERDICT r8 #4): the <unk>
    mapping bounds every model table by top-V ∪ {<unk>}, so all four
    scoring-side joins (two vocab maps, bigram model, context model)
    must be broadcast — the corpus bigram stream never shuffles for a
    join.  (The model's own groupBy counts are the one legitimate
    bigram-key exchange.)"""
    plan = _plan(spark, _q(spark, sf_dir, "text_word_perplexity"))
    assert plan.count("BroadcastHashJoin") >= 4, plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line:
            raise AssertionError(f"scoring join shuffled the bigram stream:\n{line}")


def test_filtered_topk_label_pushdown(spark, sf_dir):
    """sim_topk_filtered (r11): the corpus_pred label filter must reach
    the parquet scan (PushedFilters), the query side must broadcast,
    and no Python appears anywhere in the plan."""
    df = _q(spark, sf_dir, "sim_topk_filtered")
    plan = _plan(spark, df, "formatted")
    assert "Python" not in plan
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "label" in l]
    assert pushed, f"label filter not pushed to the scan:\n{plan}"
    assert "BroadcastExchange" in plan or "Broadcast" in plan


def test_line_dedup_combined_count_and_array_rebuild(spark, sf_dir):
    """text_line_dedup (r11, rebuilt r12): the corpus-wide line frequency
    must be a partial+final aggregate (map-side combine BEFORE the
    exchange — the reason the groupBy form beat the window form at
    scale), no Python anywhere, and since r12 the REBUILD must be
    array-local: only the boilerplate HIT indexes aggregate per doc
    (collect_set over hits), never a corpus-sized collect_list rebuild
    of every surviving segment (sf1 measured 47.3 → 21.6 s)."""
    df = _q(spark, sf_dir, "text_line_dedup")
    plan = _plan(spark, df, "simple")
    assert "Python" not in plan
    # partial+final HashAggregate pair around the line-key exchange
    assert plan.count("HashAggregate") >= 2, plan
    # the line-frequency side must NOT be computed through a Window
    assert "windowspecdefinition(line" not in plan.lower(), plan
    # hits aggregate per doc (tiny); the old corpus rebuild is gone
    assert "collect_set" in plan, plan
    assert "collect_list" not in plan, f"corpus-sized segment rebuild is back:\n{plan}"


def test_heavy_hitters_recount_broadcasts_candidates(spark, sf_dir):
    """The exact recount's 100 TB property: the candidate set joins the
    token stream as a BROADCAST (map-side filter — the shuffle carries at
    most candidate-width partial counts, never the vocabulary), and the
    top-k is TakeOrdered, not a global sort."""
    from pyspark.sql import functions as F

    from datafusion_bigtable_spark.functions.text import words
    from datafusion_bigtable_spark.queries import load

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(words(F.col("text"))).alias("token"))
    cand = spark.createDataFrame([("the",), ("agg",)], "token string")
    counted = (
        toks.join(F.broadcast(cand), "token").groupBy("token").agg(F.count("*").alias("cnt"))
    )
    plan = _plan(spark, counted.orderBy(F.desc("cnt"), F.asc("token")).limit(40))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan or "partial" in plan.lower()


def test_zipf_slope_no_vocabulary_global_sort(spark, sf_dir):
    """corpus_zipf_slope must reach the rank window through TakeOrdered
    (top-1000 survivors), never Sort+Window over the whole vocabulary."""
    plan = _plan(spark, _q(spark, sf_dir, "corpus_zipf_slope"))
    assert "TakeOrderedAndProject" in plan


def test_ahash_pairs_band_bucketed_not_allpairs(spark, sf_dir):
    """The hamming candidate join must be an EQUI join on (band, value) —
    never a cartesian/nested-loop all-pairs comparison of images."""
    plan = _plan(spark, _q(spark, sf_dir, "multimodal_ahash_dedup"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_containment_same_blocked_shape_as_jaccard(spark, sf_dir):
    """Directed containment inherits jaccard_pairs' blocking: candidate
    pairs come from the shingle inverted list (one shuffle on shingle),
    no self-join of the documents table, no cartesian."""
    plan = _plan(spark, _q(spark, sf_dir, "dedup_containment"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the direction split is row-local: exactly one explode-side generator
    # over the pair array, not a union of two scans of the pair table
    assert plan.count("Generate explode") >= 1


def test_bloom_bits_broadcast_and_bounded(spark, sf_dir):
    # the whole POINT of the Bloom screen is a constant-size broadcast:
    # the set-bit table must broadcast (explicitly hinted) and the corpus
    # probe side must never be the build side of a shuffle join
    plan = _plan(spark, _q(spark, sf_dir, "decontaminate_bloom"))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_minhash_estimate_no_shingle_revisit(spark, sf_dir):
    # signature-only verify: after candidate generation there must be NO
    # further join (the estimate is a row-local zip over arrays carried
    # through the band join) — a join back to the shingle table would be
    # the second corpus pass this operator exists to avoid.  The plan has
    # exactly one join: the band-bucket self-join.
    plan = _plan(spark, _q(spark, sf_dir, "dedup_minhash_estimate"))
    njoins = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count("BroadcastHashJoin")
    assert njoins == 1, f"expected exactly the band self-join, got {njoins} joins:\n{plan[:800]}"


def test_jsonl_ingest_single_text_scan_no_inference(spark, sf_dir):
    # one text scan feeding from_json (no native-JSON double scan, no
    # schema-inference pass); the quarantine split is a filter, not a join
    from datafusion_bigtable_spark.queries import REGISTRY

    df = REGISTRY["ingest_jsonl_documents"].fn(spark, sf_dir)
    plan = _plan(spark, df)
    assert plan.count("FileScan text") == 1, plan[:600]
    assert "from_json" in plan
    assert "Join" not in plan


def test_leakage_split_component_map_broadcasts(spark, sf_dir):
    # the component map covers dup members only (tiny) — it must reach
    # the per-doc labeling join as a broadcast, never reshuffle documents.
    # The map side is an ExistingRDD (the CC fixpoint), so the static plan
    # has no size stats and plans SMJ; the broadcast is AQE's runtime
    # replan — assert on the EXECUTED plan.
    df = _q(spark, sf_dir, "corpus_leakage_safe_split")
    df.collect()  # a write/count plans a CLONE; collect finalizes THIS plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:600]
    assert "CartesianProduct" not in plan


def test_sampled_rate_probe_is_left_semi(spark, sf_dir):
    # the audit's whole economics: the sample probes the band index via
    # LEFT SEMI (short-circuits at first partner, emits no pair rows) —
    # an inner/outer join here would materialize the pair fan-out the
    # operator exists to avoid
    plan = _plan(spark, _q(spark, sf_dir, "dedup_sampled_rate"))
    assert "LeftSemi" in plan, plan[:600]
    assert "CartesianProduct" not in plan
