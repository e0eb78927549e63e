"""Query registry — the engine's verified surface.

Every entry pairs a Spark-first DataFrame implementation with an ANSI-SQL
oracle that DuckDB runs on the same parquet tables (the driver's
correctness gate, see ``__spark_entry__.py``).  Column names are aliased
identically on both sides; double-typed aggregates are rounded on both
sides so the value-hash comparison is stable across engines.

Tier B (SURVEY §2.2): the reference delegates everything above the scan to
DataFusion (reference README.md:53) — these queries demonstrate the same
relational surface served by stock Spark SQL: projection/filter, joins of
every shape, hash aggregation, grouping sets, window functions,
sort/limit/top-k, set ops, scalar functions, subqueries/CTEs.

Bigtable-model ops (SURVEY §2.1): the connector-specific operators —
composite-key compose/split, lexicographic key-range pruning,
latest-version-per-cell, cell→row pivot — expressed over the driver's
`events` table so the oracle can verify their *semantics* (the golden
fixture tests in tests/ verify the connector plumbing itself).

Scale notes are inline per query; the common posture: filters reach the
parquet scan (Catalyst pushdown), small dimensions are broadcast, shuffles
are keyed on the aggregation/join keys with AQE handling skew and
partition count, and nothing collects to the driver.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from pathlib import Path
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]  # DuckDB oracle; None → rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, sql: Optional[str]):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn, sql)
        return fn

    return deco


# Content-address tags now live in the shared tagging module (ADVICE r14:
# operators/bucketing.py could not import the queries.py originals without
# an import cycle and had re-hand-rolled the idiom).  These aliases are
# BYTE-IDENTICAL to the previous in-file definitions — pinned by
# tests/test_schedule.py::test_content_tag_format_is_frozen, so no store
# on disk re-keys.
from datafusion_bigtable_spark.tagging import (  # noqa: E402
    src_tag as _src_tag,
    tag_of as _tag_of,
)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    # The driver calls queries() with ITS session; timestamp→date/string
    # conversions are session-timezone-dependent, and the DuckDB oracle is
    # timezone-naive.  Pin UTC so results are tz-independent.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if table == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def table_num_rows(sf_dir: str, table: str) -> int:
    """Exact row count of a testdata table from its parquet FOOTERS — a
    driver-side metadata sweep (no Spark job, no data pages), equal to
    ``COUNT(*)`` by the format's contract.  The r18 replacement for the
    count actions that existed only to derive a corpus-relative dial
    (IVF ``n_cells``): at 100 TB a dial derivation must not cost a full
    pass over the corpus when O(files) footer reads carry the same
    number (guide §1.2 — and the same footer-truth pattern as
    layout.py's shard manifests)."""
    import pyarrow.parquet as pq

    path = Path(sf_dir) / f"{table}.parquet"
    if path.is_dir():
        return sum(
            pq.ParquetFile(f).metadata.num_rows for f in sorted(path.glob("*.parquet"))
        )
    return pq.ParquetFile(path).metadata.num_rows


def _pair_salt_for(n: int) -> int:
    """Skew-salt factor for the IVF-blocked pair stage (r19, guide §2.5):
    seed-codebook cell sizes are SKEWED (measured at sf10: median 99 vs
    max 1606 rows), so one hot cell's Σ|cell|² scoring owns a whole task
    while the rest of the cluster idles.  Derived from corpus size so
    the oracle-tested SFs (≤2000 vectors → 1 = salting off, plan
    byte-identical to r18's) pay nothing, while sf1+ splits each cell's
    scoring ``salt``-ways — the pair SET is identical at any value (the
    B side replicates, every pair meets exactly once).  Cap 16: the
    B-side replication multiplies one batch-sized shuffle, and 16× finer
    tasks already puts the hottest measured cell under the mean."""
    return max(1, min(16, n // 25_000))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores ts as TIMESTAMP(NANOS), which Spark's vectorized
    parquet reader rejects (PARQUET_TYPE_ILLEGAL).  Read nanos as long (the
    documented escape hatch) and rebuild a µs timestamp_ntz JVM-side —
    truncation matches DuckDB's ns→µs behavior."""
    path = f"{sf_dir}/events.parquet"
    try:
        df = spark.read.parquet(path)
    except Exception:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type in ("bigint", "long"):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"))
    return df


# =========================================================================
# Tier B — TPC-H-style relational surface (stock Spark SQL above the scan)
# =========================================================================


@query(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)                AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
           ROUND(AVG(l_discount), 4)                                        AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark, sf_dir):
    # One partial+final hash aggregate; filter pushed to parquet scan.
    l = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "tpch_q3_shipping_priority",
    """
    SELECT l.l_orderkey AS o_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           CAST(o.o_orderdate AS DATE) AS orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-01-01'
      AND l.l_shipdate  > DATE '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    """,
)
def tpch_q3(spark, sf_dir):
    # customer is the small side → broadcast; one shuffle on l_orderkey.
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    l = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("date"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(l.l_orderkey.alias("o_orderkey"), F.col("o_orderdate"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .select("o_orderkey", "revenue", F.col("o_orderdate").cast("date").alias("orderdate"))
    )


@query(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1999-01-01'
    GROUP BY n.n_name
    """,
)
def tpch_q5(spark, sf_dir):
    # All dimensions broadcast; the only big shuffle is lineitem⋈orders.
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
    )
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


@query(
    "tpch_q6_revenue_change",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
    """,
)
def tpch_q6(spark, sf_dir):
    # Pure scan+filter+scalar agg: every predicate reaches the parquet reader.
    l = load(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("date"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "tpch_q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           CAST(c.c_acctbal AS DOUBLE) AS c_acctbal, n.n_name AS nation
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= DATE '1996-10-01' AND o.o_orderdate < DATE '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    """,
)
def tpch_q10(spark, sf_dir):
    # r14: third bucketed-fixture consumer, sharing q18's orderkey
    # layouts exactly (content-addressed — the write was already paid).
    # customer/nation are broadcast, so removing the l⋈o shuffle leaves
    # ONE exchange: the final custkey-group aggregation (plan pinned in
    # tests/test_bucketing.py).  Values oracle-identical.
    from datafusion_bigtable_spark.operators.bucketing import orderkey_family

    c = load(spark, sf_dir, "customer")
    o, l = orderkey_family(spark, sf_dir)
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    l = l.filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation")
    )


@query(
    "agg_distinct_stats",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT l_suppkey)  AS BIGINT) AS n_supps,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price,
           ROUND(AVG(l_quantity), 4)      AS avg_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct_stats(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
    )


@query(
    "rollup_lineitem_qty",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_qty(spark, sf_dir):
    # GROUPING SETS expand before the shuffle — one pass, partial aggs.
    l = load(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@query(
    "cube_orders_revenue",
    """
    SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           ROUND(SUM(o_totalprice), 2) AS total, COUNT(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_revenue(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"), F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "total",
            "n",
        )
    )


@query(
    "window_topk_per_group",
    """
    SELECT p_brand, p_partkey, CAST(p_retailprice AS DOUBLE) AS p_retailprice, rk FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rk
      FROM part) t
    WHERE rk <= 3
    """,
)
def window_topk(spark, sf_dir):
    # Spark plans rank-limit windows with WindowGroupLimit: per-partition
    # top-k before the shuffle — the scalable top-k-per-group shape.
    p = load(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        p.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rk")
    )


@query(
    "window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def window_running(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@query(
    "window_lag_delta",
    """
    SELECT event_id, user_id,
           ROUND(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta
    FROM events
    """,
)
def window_lag(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
    )


@query(
    "topk_orders_global",
    """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def topk_orders(spark, sf_dir):
    # orderBy().limit() → TakeOrderedAndProject: per-partition top-20 then
    # a single-reduce merge; no global sort materialization.
    o = load(spark, sf_dir, "orders")
    return o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(20).select(
        "o_orderkey", "o_totalprice"
    )


@query(
    "set_ops_nation_overlap",
    """
    SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
    INTERSECT
    SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
    """,
)
def set_ops_intersect(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("int").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("int").alias("nationkey"))
    return c.intersect(s)


@query(
    "set_ops_nation_except",
    """
    SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
    EXCEPT
    SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
    """,
)
def set_ops_except(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("int").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("int").alias("nationkey"))
    # subtract == SQL EXCEPT (set semantics); exceptAll would be EXCEPT ALL.
    return c.subtract(s)


@query(
    "semi_join_active_customers",
    """
    SELECT n.n_name AS nation, COUNT(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY n.n_name
    """,
)
def semi_join(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "anti_join_idle_customers",
    """
    SELECT c_mktsegment, COUNT(*) AS n_idle
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def anti_join(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_idle"))
    )


@query(
    "outer_join_nation_customer_counts",
    """
    SELECT n.n_name AS nation, CAST(COUNT(c.c_custkey) AS BIGINT) AS n_customers
    FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def outer_join_counts(spark, sf_dir):
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@query(
    "scalar_functions_part",
    """
    SELECT p_partkey,
           UPPER(p_name)                          AS name_upper,
           CAST(LENGTH(p_name) AS INT)            AS name_len,
           SUBSTRING(p_type, 1, 4)                AS type_prefix,
           ROUND(p_retailprice * 1.1, 3)          AS marked_up,
           CAST(p_size % 5 AS INT)                AS size_mod,
           ROUND(SQRT(CAST(p_size AS DOUBLE)), 4) AS size_sqrt
    FROM part
    """,
)
def scalar_funcs(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("int").alias("name_len"),
        F.substring("p_type", 1, 4).alias("type_prefix"),
        F.round(F.col("p_retailprice") * 1.1, 3).alias("marked_up"),
        (F.col("p_size") % 5).cast("int").alias("size_mod"),
        F.round(F.sqrt(F.col("p_size").cast("double")), 4).alias("size_sqrt"),
    )


@query(
    "json_extract_props",
    """
    SELECT event_type,
           CAST(SUM(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)) AS BIGINT) AS k_sum,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_extract(spark, sf_dir):
    # regexp-based extraction is dialect-portable; Spark's native
    # get_json_object compiles to the same scan+agg shape.
    e = load(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("long")
    return e.groupBy("event_type").agg(F.sum(k).alias("k_sum"), F.count("*").alias("n"))


@query(
    "set_ops_multiset",
    """
    WITH l AS (SELECT event_type FROM events WHERE user_id % 2 = 0),
         r AS (SELECT event_type FROM events WHERE value >= 20)
    SELECT 'inter' AS op, event_type, COUNT(*) AS n
    FROM (SELECT event_type FROM l INTERSECT ALL SELECT event_type FROM r) GROUP BY event_type
    UNION ALL
    SELECT 'except' AS op, event_type, COUNT(*) AS n
    FROM (SELECT event_type FROM l EXCEPT ALL SELECT event_type FROM r) GROUP BY event_type
    """,
)
def set_ops_multiset_q(spark, sf_dir):
    # MULTISET set ops — INTERSECT ALL / EXCEPT ALL keep duplicate
    # cardinality (min / truncated difference of multiplicities), a
    # different operator from the DISTINCT forms already covered:
    # intersectAll/exceptAll plan a count-aggregate + generate instead of
    # a dedup join.  Counted output keeps the oracle rowset small while
    # pinning the multiplicity arithmetic exactly.
    e = load(spark, sf_dir, "events")
    l = e.filter(F.col("user_id") % 2 == 0).select("event_type")
    r = e.filter(F.col("value") >= 20).select("event_type")
    inter = (
        l.intersectAll(r)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .select(F.lit("inter").alias("op"), "event_type", "n")
    )
    diff = (
        l.exceptAll(r)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .select(F.lit("except").alias("op"), "event_type", "n")
    )
    return inter.unionAll(diff)


@query(
    "unpivot_cell_metrics",
    """
    WITH piv AS (
      SELECT user_id,
             ROUND(SUM(CASE WHEN event_type = 'click'    THEN value ELSE 0 END), 2) AS click,
             ROUND(SUM(CASE WHEN event_type = 'view'     THEN value ELSE 0 END), 2) AS view,
             ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS purchase
      FROM events GROUP BY user_id)
    SELECT user_id, metric, amount
    FROM piv UNPIVOT (amount FOR metric IN (click, view, purchase))
    """,
)
def unpivot_q(spark, sf_dir):
    # UNPIVOT — the inverse relational operator of the connector's
    # cell→row pivot (A13) and the same wide→long reshape the DS WRITER
    # performs before encoding cells.  Spark's native unpivot/melt plans
    # an Expand (one pass, rows×metrics), not a union of per-column scans.
    # SUM(… ELSE 0) keeps every metric non-NULL so both engines emit the
    # same long rows (UNPIVOT drops NULL measures by default).
    e = load(spark, sf_dir, "events")
    piv = e.groupBy("user_id").agg(
        *[
            F.round(
                F.sum(F.when(F.col("event_type") == t, F.col("value")).otherwise(0.0)), 2
            ).alias(t)
            for t in ("click", "view", "purchase")
        ]
    )
    return piv.unpivot("user_id", ["click", "view", "purchase"], "metric", "amount")


@query(
    "cte_above_nation_avg",
    """
    WITH nation_avg AS (
      SELECT c_nationkey, AVG(c_acctbal) AS avg_bal FROM customer GROUP BY c_nationkey
    )
    SELECT c.c_custkey, CAST(c.c_nationkey AS INT) AS nationkey
    FROM customer c JOIN nation_avg a ON c.c_nationkey = a.c_nationkey
    WHERE c.c_acctbal > a.avg_bal
    """,
)
def cte_above_avg(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    avg = c.groupBy("c_nationkey").agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        c.join(F.broadcast(avg.withColumnRenamed("c_nationkey", "nk")), F.col("c_nationkey") == F.col("nk"))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", F.col("c_nationkey").cast("int").alias("nationkey"))
    )


@query(
    "having_repeat_customers",
    """
    SELECT o_custkey, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS spend
    FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 3
    """,
)
def having_groups(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("spend"))
        .filter(F.col("n_orders") >= 3)
    )


@query(
    "median_quantiles",
    """
    SELECT l_returnflag,
           ROUND(MEDIAN(l_quantity), 4) AS med_qty,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4) AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def median_quantiles(spark, sf_dir):
    # Exact percentiles via the stock grouped aggregates (buffer-per-
    # group).  At 100 TB with FEW huge groups, the bounded-memory exact
    # twin is grouped_exact_quantiles (r8, operators/stats.py) — same
    # results, rank-selection plan; with many small groups this stock
    # form is already bounded.  approx_percentile remains the sketch
    # option when exactness is negotiable (approx_aggregates).
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
    )


@query(
    "exact_quantiles_distributed",
    """
    SELECT ROUND(QUANTILE_CONT(l_extendedprice, 0.25), 4) AS p25,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.50), 4) AS p50,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.75), 4) AS p75
    FROM lineitem
    """,
)
def exact_quantiles_q(spark, sf_dir):
    # EXACT mid-quantiles at corpus scale — the r8 driver-safe order-
    # statistic selector (operators/stats.py): values range-partition
    # once, ranks resolve per-partition, and ALL requested quantiles'
    # neighbor ranks come back through one filter — 6 rows to the driver
    # for p25/p50/p75 regardless of n.  This is the path median_quantiles'
    # "swap to approx at 100 TB" caveat no longer needs for ungrouped
    # quantiles: exact and bounded at any scale.  (Grouped medians still
    # buffer per group; grouping by rank-per-group is the known extension.)
    from datafusion_bigtable_spark.operators.stats import exact_percentiles

    li = load(spark, sf_dir, "lineitem")
    p25, p50, p75 = exact_percentiles(li, "l_extendedprice", [0.25, 0.50, 0.75])
    return spark.createDataFrame(
        [(round(p25, 4), round(p50, 4), round(p75, 4))],
        "p25 double, p50 double, p75 double",
    )


@query(
    "grouped_exact_quantiles",
    """
    SELECT l_returnflag,
           ROUND(MEDIAN(l_extendedprice), 4) AS med_price,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 4) AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def grouped_exact_quantiles_q(spark, sf_dir):
    # Exact per-group quantiles WITHOUT per-group buffers — the
    # few-large-groups regime where Spark's grouped percentile/median
    # aggregate puts a whole group's values in one aggregation buffer
    # (operators/stats.py grouped_exact_percentiles: values
    # range-partition on (group, value), so a huge group spans
    # partitions; per-(group,partition) ranks + broadcast cumulative
    # offsets select each group's two neighbor ranks per quantile).
    # Bit-identical to MEDIAN / QUANTILE_CONT.
    from datafusion_bigtable_spark.operators.stats import grouped_exact_percentiles

    li = load(spark, sf_dir, "lineitem")
    q = grouped_exact_percentiles(li, "l_returnflag", "l_extendedprice", [0.5, 0.9])
    return q.groupBy("l_returnflag").agg(
        F.round(F.max(F.when(F.col("p") == 0.5, F.col("value"))), 4).alias("med_price"),
        F.round(F.max(F.when(F.col("p") == 0.9, F.col("value"))), 4).alias("p90_price"),
    )


# =========================================================================
# Bigtable-model operators over driver testdata (SURVEY §2.1 semantics)
# =========================================================================


@query(
    "bt_key_compose_range_prune",
    """
    SELECT event_type || '#' || LPAD(CAST(user_id AS VARCHAR), 4, '0')
                      || '#' || LPAD(CAST(event_id AS VARCHAR), 8, '0') AS row_key,
           ROUND(value, 4) AS value
    FROM events
    WHERE event_type || '#' || LPAD(CAST(user_id AS VARCHAR), 4, '0')
                    || '#' || LPAD(CAST(event_id AS VARCHAR), 8, '0')
          BETWEEN 'click#0010#' AND 'click#0020#~'
    """,
)
def bt_key_compose(spark, sf_dir):
    # A7/A14: composite key composition + lexicographic range filtering —
    # the same ordering semantics the composer's KeyRanges rely on.
    from datafusion_bigtable_spark.operators.pivot import compose_row_key

    e = load(spark, sf_dir, "events")
    key = compose_row_key(
        [
            F.col("event_type"),
            F.lpad(F.col("user_id").cast("string"), 4, "0"),
            F.lpad(F.col("event_id").cast("string"), 8, "0"),
        ]
    )
    return (
        e.withColumn("row_key", key)
        .filter((F.col("row_key") >= "click#0010#") & (F.col("row_key") <= "click#0020#~"))
        .select("row_key", F.round("value", 4).alias("value"))
    )


@query(
    "bt_key_split",
    """
    SELECT split_part(k, '#', 1) AS region, split_part(k, '#', 2) AS balloon_id,
           split_part(k, '#', 3) AS minute, COUNT(*) AS n
    FROM (SELECT event_type || '#' || CAST(user_id AS VARCHAR) || '#'
                 || CAST(event_id % 100 AS VARCHAR) AS k FROM events) t
    GROUP BY 1, 2, 3
    """,
)
def bt_key_split(spark, sf_dir):
    from datafusion_bigtable_spark.operators.pivot import compose_row_key, split_row_key

    e = load(spark, sf_dir, "events")
    keyed = e.select(
        compose_row_key(
            [F.col("event_type"), F.col("user_id"), (F.col("event_id") % 100)]
        ).alias("row_key")
    )
    split = split_row_key(keyed, ["region", "balloon_id", "minute"])
    return split.groupBy("region", "balloon_id", "minute").agg(F.count("*").alias("n"))


@query(
    "bt_latest_version",
    """
    SELECT user_id, event_type, ROUND(value, 4) AS latest_value
    FROM (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def bt_latest_version(spark, sf_dir):
    # A11 CellsPerColumnLimitFilter(1): events as cells keyed by
    # (user_id=row_key, event_type=qualifier, ts=version).
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.round("value", 4).alias("latest_value"))
    )


@query(
    "bt_cell_pivot",
    """
    SELECT user_id,
           ROUND(MAX(CASE WHEN event_type = 'click'    THEN value END), 4) AS click,
           ROUND(MAX(CASE WHEN event_type = 'view'     THEN value END), 4) AS view,
           ROUND(MAX(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
           ROUND(MAX(CASE WHEN event_type = 'signup'   THEN value END), 4) AS signup,
           ROUND(MAX(CASE WHEN event_type = 'error'    THEN value END), 4) AS error
    FROM events GROUP BY user_id
    """,
)
def bt_cell_pivot(spark, sf_dir):
    # A13 cell→row pivot with a *declared* qualifier list (static plan):
    # .pivot(col, values) compiles to exactly the CASE-WHEN aggregate.
    e = load(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    piv = e.groupBy("user_id").pivot("event_type", types).agg(F.max("value"))
    return piv.select("user_id", *[F.round(F.col(t), 4).alias(t) for t in types])


def _build_events_cells_store(sf_dir: str, tag_prefix: str, key_fn) -> str:
    """Shared build-once cells-store fixture derived from `events`:
    qualifiers `etype` (utf-8) and `cents` (int64 big-endian), row_key
    produced by ``key_fn(events_pandas) -> Series``.  Same layout
    write_cells produces (range-partitioned files, sorted by row_key, with
    a manifest) so footer stats prune and the streaming reader is provably
    key-ordered — built driver-side with pyarrow because this is FIXTURE
    PREP, not a measured operator (a Spark write here cost ~8 s of every
    cold bench run; pandas does the 2·|events| cells in well under one).

    Cache key = source identity (full path + mtime + size) + tag_prefix,
    not just the dir basename — two datasets named sf0.1, or a regenerated
    events.parquet, must not reuse each other's derived store."""
    import hashlib
    import os

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_bigtable_spark.sources.cells import write_manifest

    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    tag = hashlib.md5(
        f"{tag_prefix}|{os.path.abspath(src)}|{st.st_mtime_ns}|{st.st_size}".encode()
    ).hexdigest()[:12]
    path = f"/tmp/dbs_bt_{tag_prefix}store_{os.path.basename(os.path.normpath(sf_dir))}_{tag}"
    done = os.path.join(path, "_SUCCESS")
    if not os.path.exists(done):
        t = pq.read_table(src).to_pandas()
        row_key = key_fn(t)
        ts = t["ts"].dt.floor("us")  # ns → µs, matching load_events' `div 1000`
        # 2-dec grid values: *100 lands within fp noise of an integer, so
        # np.round (banker's) and Spark/DuckDB ROUND agree — never at .5
        cents = np.round(t["value"].to_numpy() * 100).astype("int64")
        long = pd.concat(
            [
                pd.DataFrame(
                    {
                        "row_key": row_key,
                        "family": "events",
                        "qualifier": "etype",
                        "ts": ts,
                        "value": t["event_type"].str.encode("utf-8"),
                    }
                ),
                pd.DataFrame(
                    {
                        "row_key": row_key,
                        "family": "events",
                        "qualifier": "cents",
                        "ts": ts,
                        "value": [int(v).to_bytes(8, "big", signed=True) for v in cents],
                    }
                ),
            ],
            ignore_index=True,
        ).sort_values(["row_key", "qualifier", "ts"], kind="stable")
        os.makedirs(path, exist_ok=True)
        bounds = [int(len(long) * i / 4) for i in range(5)]
        # align chunk boundaries to row_key changes (disjoint file ranges);
        # start each alignment at the PREVIOUS aligned bound so a key
        # spanning more than a quartile cannot push bounds[i] past
        # bounds[i+1] (which would slice an empty chunk and duplicate its
        # rows into the neighbors)
        keys = long["row_key"].to_numpy()
        for i in range(1, 4):
            b = max(bounds[i], bounds[i - 1])
            while 0 < b < len(keys) and keys[b] == keys[b - 1]:
                b += 1
            bounds[i] = b
        for i in range(4):
            chunk = long.iloc[bounds[i] : bounds[i + 1]]
            pq.write_table(
                pa.table(
                    {
                        "row_key": pa.array(chunk["row_key"], type=pa.string()),
                        "family": pa.array(chunk["family"], type=pa.string()),
                        "qualifier": pa.array(chunk["qualifier"], type=pa.string()),
                        "ts": pa.array(chunk["ts"], type=pa.timestamp("us")),
                        "value": pa.array(chunk["value"], type=pa.binary()),
                    }
                ),
                os.path.join(path, f"part-{i}.parquet"),
            )
        write_manifest(path)
        open(done, "w").close()
    return path


def _documents_jsonl_fixture(sf_dir: str) -> str:
    """Build-once JSONL export of `documents` with 3 deliberately corrupt
    lines injected into shard 0 — the ingestion fixture for
    `ingest_jsonl_documents`.  Driver-side fixture prep (same rationale
    as ``_build_events_cells_store``); 4 shard files keep the read
    parallel.  Cache key = source identity, so a regenerated
    documents.parquet never reuses a stale export."""
    import hashlib
    import json
    import os

    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    tag = hashlib.md5(f"jsonl1|{os.path.abspath(src)}|{st.st_mtime_ns}|{st.st_size}".encode()).hexdigest()[:12]
    path = f"/tmp/dbs_jsonl_{os.path.basename(os.path.normpath(sf_dir))}_{tag}"
    done = os.path.join(path, "_SUCCESS")
    if not os.path.exists(done):
        t = pq.read_table(src).to_pandas()
        os.makedirs(path, exist_ok=True)
        n = len(t)
        bounds = [n * i // 4 for i in range(5)]
        cols = list(t.columns)
        for i in range(4):
            with open(os.path.join(path, f"documents-{i:03d}.jsonl"), "w") as f:
                if i == 0:  # structurally invalid lines → PERMISSIVE quarantine
                    f.write('{"doc_id": 1, "text": "unterminated\n')
                    f.write("this line is not json at all\n")
                    f.write('{"doc_id":, "text": "missing value"}\n')
                for rec in t.iloc[bounds[i] : bounds[i + 1]].to_dict("records"):
                    f.write(json.dumps({c: rec[c] for c in cols}, default=int))
                    f.write("\n")
        open(done, "w").close()
    return path


@query(
    "ingest_jsonl_documents",
    """
    SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5 FROM documents
    """,
)
def ingest_jsonl_documents_q(spark, sf_dir):
    # JSONL ingestion boundary (sources/jsonl.py): the documents table
    # exported as JSON Lines (with 3 corrupt lines injected), read back
    # with an EXPLICIT schema (no inference pass — the 2× read trap at
    # 100 TB), PERMISSIVE corrupt-record quarantine, and hash-verified
    # byte-for-byte against the parquet original — corrupt input is
    # contained, clean input is untouched.  Quarantine accounting
    # (clean + corrupt == lines) is pinned in tests/test_jsonl.py.
    from datafusion_bigtable_spark.sources.jsonl import read_documents_jsonl, split_corrupt

    path = _documents_jsonl_fixture(sf_dir)
    clean, _ = split_corrupt(read_documents_jsonl(spark, path))
    return clean.select("doc_id", "lang", "source", "n_chars", F.md5("text").alias("text_md5"))


def _bt_events_store(spark: SparkSession, sf_dir: str) -> str:
    """String-keyed connector fixture: row_key = uid#eid (zero-padded,
    unique per event)."""

    def key_fn(t):
        return (
            t["user_id"].astype(str).str.zfill(4)
            + "#"
            + t["event_id"].astype(str).str.zfill(8)
        )

    return _build_events_cells_store(sf_dir, "", key_fn)


@query(
    "bt_limit_pushdown",
    """
    SELECT uid, eid, etype, cents FROM (
      SELECT LPAD(CAST(user_id AS VARCHAR), 4, '0') AS uid,
             LPAD(CAST(event_id AS VARCHAR), 8, '0') AS eid,
             event_type AS etype,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
      WHERE user_id = 7
      ORDER BY uid, eid
      LIMIT 10)
    """,
)
def bt_limit_pushdown_q(spark, sf_dir):
    # Source-side limit (reference parses-then-ignores limit,
    # src/datasource.rs:140-148; this is the unclaimed improvement): the
    # rows_limit option caps every partition's output and stops pulling
    # parquet batches at the cap.  The uid=/eid-BETWEEN predicates compose
    # to ONE key range → one partition over a key-sorted store, so the
    # capped scan deterministically yields the 10 smallest row keys —
    # matching the oracle's ORDER BY/LIMIT.  df.limit() above keeps exact
    # SQL semantics (the option alone is per-partition).
    from datafusion_bigtable_spark.sources import datasource as bt_ds

    path = _bt_events_store(spark, sf_dir)
    bt_ds.register(spark)
    df = (
        spark.read.format("bigtable")
        .option("path", path)
        .option("column_family", "events")
        .option("columns", "etype:string,cents:int64")
        .option("table_partition_cols", "uid,eid")
        .option("rows_limit", "10")
        .load()
        .filter("uid = '0007' AND eid >= '00000000' AND eid <= '99999999'")
    )
    return df.limit(10).select("uid", "eid", "etype", "cents")


@query(
    "bt_ts_range_prune",
    """
    SELECT LPAD(CAST(user_id AS VARCHAR), 4, '0') AS uid,
           LPAD(CAST(event_id AS VARCHAR), 8, '0') AS eid,
           event_type AS etype,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
    """,
)
def bt_ts_range_q(spark, sf_dir):
    # Timestamp-range pushdown (reference roadmap README.md:46-49, never
    # shipped there): _timestamp bounds reach the scan as parquet ts
    # predicates (row-group pruning) and prune whole files via the
    # manifest's ts stats.  Version-unnest mode (only_read_latest=false) is
    # the gate that makes cell-level ts pruning semantics-preserving; this
    # store has unique row keys so the unnest changes nothing else.
    from datafusion_bigtable_spark.sources import datasource as bt_ds

    path = _bt_events_store(spark, sf_dir)
    bt_ds.register(spark)
    df = (
        spark.read.format("bigtable")
        .option("path", path)
        .option("column_family", "events")
        .option("columns", "etype:string,cents:int64")
        .option("table_partition_cols", "uid,eid")
        .option("allow_full_scan", "true")  # deliberate: no key predicate — ts/value pushdown over the whole store
        .option("only_read_latest", "false")
        .load()
        .filter(
            "_timestamp >= TIMESTAMP '2024-01-10 00:00:00' "
            "AND _timestamp < TIMESTAMP '2024-01-20 00:00:00'"
        )
    )
    return df.select("uid", "eid", "etype", "cents")


@query(
    "events_retention_cohorts",
    """
    WITH w AS (
      SELECT user_id,
             CAST(DATE_TRUNC('week', ts) AS DATE) AS activity_week,
             CAST(MIN(DATE_TRUNC('week', ts)) OVER (PARTITION BY user_id) AS DATE) AS cohort_week
      FROM events)
    SELECT cohort_week, activity_week, COUNT(DISTINCT user_id) AS active_users
    FROM w GROUP BY cohort_week, activity_week
    """,
)
def retention_cohorts_q(spark, sf_dir):
    # Cohort retention: users grouped by first-seen week, counted per
    # activity week.  The cohort comes from a window-min over the SAME
    # scan (one pass; the firstw-CTE join form scans events twice).
    # Week truncation is Monday-start ISO in both engines, tz-independent
    # on timestamp_ntz.
    e = load(spark, sf_dir, "events")
    cohort = F.min(F.date_trunc("week", F.col("ts"))).over(W.partitionBy("user_id"))
    return (
        e.select(
            "user_id",
            F.date_trunc("week", F.col("ts")).cast("date").alias("activity_week"),
            cohort.cast("date").alias("cohort_week"),
        )
        .groupBy("cohort_week", "activity_week")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@query(
    "bt_key_not_between_prune",
    """
    SELECT event_type || '#' || LPAD(CAST(event_id AS VARCHAR), 8, '0') AS row_key,
           ROUND(value, 4) AS value
    FROM events
    WHERE event_type = 'click'
      AND LPAD(CAST(event_id AS VARCHAR), 8, '0')
          NOT BETWEEN '00002000' AND '00008000'
    """,
)
def bt_not_between_q(spark, sf_dir):
    # NOT BETWEEN pruning (extension — the reference roadmap lists it and
    # its composer drops every negation, composer.rs:203,234): the tail
    # complement compiles to TWO closed ranges per prefix; the exact
    # predicate re-applies above (Inexact), excluding the closed-range
    # boundaries.
    from datafusion_bigtable_spark.operators.pivot import compose_row_key
    from datafusion_bigtable_spark.plans.composer import (
        Between as CBetween,
        Eq as CEq,
        compose,
        key_range_predicate,
    )

    e = load(spark, sf_dir, "events")
    keyed = e.select(
        compose_row_key(
            [F.col("event_type"), F.lpad(F.col("event_id").cast("string"), 8, "0")]
        ).alias("row_key"),
        F.lpad(F.col("event_id").cast("string"), 8, "0").alias("eid"),
        "value",
    )
    ranges = compose(
        [CEq("etype", "click"), CBetween("eid", "00002000", "00008000", negated=True)],
        ("etype", "eid"),
    )
    pruned = keyed.filter(key_range_predicate(ranges, "row_key"))
    exact = ~F.col("eid").between("00002000", "00008000")
    return pruned.filter(exact).select("row_key", F.round("value", 4).alias("value"))


@query(
    "bt_value_filter_pushdown",
    """
    SELECT LPAD(CAST(user_id AS VARCHAR), 4, '0') AS uid,
           LPAD(CAST(event_id AS VARCHAR), 8, '0') AS eid,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE CAST(ROUND(value * 100) AS BIGINT) >= 2000 AND event_type = 'click'
    """,
)
def bt_value_filter_q(spark, sf_dir):
    # Value pushdown (reference roadmap's ValueRangeFilter, README.md:46-49,
    # unshipped there): the cents>= and etype= predicates reach the cell
    # scan as ``qualifier != col OR value <cmp> encoded-bytes`` parquet
    # predicates — numeric order preserved across the signed big-endian
    # encoding.  Unnest mode is the semantics gate (as with ts pushdown);
    # Spark re-applies the exact predicates above the scan.
    from datafusion_bigtable_spark.sources import datasource as bt_ds

    path = _bt_events_store(spark, sf_dir)
    bt_ds.register(spark)
    df = (
        spark.read.format("bigtable")
        .option("path", path)
        .option("column_family", "events")
        .option("columns", "etype:string,cents:int64")
        .option("table_partition_cols", "uid,eid")
        .option("allow_full_scan", "true")  # deliberate: no key predicate — ts/value pushdown over the whole store
        .option("only_read_latest", "false")
        .load()
        .filter("cents >= 2000 AND etype = 'click'")
    )
    return df.select("uid", "eid", "cents")


@query(
    "bt_asof_snapshot",
    """
    SELECT user_id, event_type, ROUND(value, 4) AS asof_value FROM (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE ts <= TIMESTAMP '2024-01-15 12:00:00') t
    WHERE rn = 1
    """,
)
def bt_asof_snapshot_q(spark, sf_dir):
    # Time-travel read: the state of every (row=user, qualifier=event_type)
    # cell AS OF a past instant — the ts bound applies BEFORE the
    # latest-version filter (bound-then-latest), which is exactly the
    # ordering the generic ts-pushdown gate refuses to produce by accident
    # under only_read_latest.  BigtableTable.to_df(as_of=...) exposes the
    # same contract over a cells store (scan-level ts bound, then latest);
    # the wire chain places timestamp_range_filter before the
    # cells-per-column limit for the identical reason
    # (tests/test_fake_bigtable.py pins it).  One window shuffle;
    # WindowGroupLimit turns the rank-1 filter into a partial top-1.
    e = load(spark, sf_dir, "events").filter(
        F.col("ts") <= F.lit("2024-01-15 12:00:00").cast("timestamp_ntz")
    )
    w = W.partitionBy("user_id", "event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.round("value", 4).alias("asof_value"))
    )


@query(
    "bt_value_regex_pushdown",
    """
    SELECT LPAD(CAST(user_id AS VARCHAR), 4, '0') AS uid,
           LPAD(CAST(event_id AS VARCHAR), 8, '0') AS eid,
           event_type AS etype
    FROM events
    WHERE event_type LIKE '%ick%'
    """,
)
def bt_value_regex_q(spark, sf_dir):
    # Value-regex pushdown, the subset Catalyst actually offers a source
    # (reference roadmap README.md:46-49; its prefix-only gap closed in
    # r2): LIKE '%infix%' / '%suffix' arrive as StringContains /
    # StringEndsWith and reach the cell scan as byte substring/suffix
    # predicates — safe for any unicode pattern (UTF-8 is
    # self-synchronizing: byte match ⇔ code-point match), unlike prefix
    # RANGES which stay ASCII-gated.  Unnest mode gates semantics as with
    # every value filter; Spark re-applies the exact predicate above.
    from datafusion_bigtable_spark.sources import datasource as bt_ds

    path = _bt_events_store(spark, sf_dir)
    bt_ds.register(spark)
    df = (
        spark.read.format("bigtable")
        .option("path", path)
        .option("column_family", "events")
        .option("columns", "etype:string,cents:int64")
        .option("table_partition_cols", "uid,eid")
        .option("allow_full_scan", "true")  # deliberate: no key predicate — ts/value pushdown over the whole store
        .option("only_read_latest", "false")
        .load()
        .filter("etype LIKE '%ick%'")
    )
    return df.select("uid", "eid", "etype")


def _bt_events_int_store(spark: SparkSession, sf_dir: str) -> str:
    """INT64-keyed connector fixture: row_key = enc(user_id)#enc(event_id)
    via the order-preserving offset-decimal codec (plans/keycodec.py)."""

    def key_fn(t):
        from datafusion_bigtable_spark.plans.keycodec import encode_int_key

        return t["user_id"].map(encode_int_key) + "#" + t["event_id"].map(encode_int_key)

    return _build_events_cells_store(sf_dir, "int_", key_fn)


@query(
    "bt_int_key_prune",
    """
    SELECT user_id, event_id, event_type AS etype,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE user_id = 7 AND event_id > 1000 AND event_id < 2000000
    """,
)
def bt_int_key_prune_q(spark, sf_dir):
    # Non-string key literals — the restriction the reference bakes in
    # (composer.rs:175 accepts only string literals) lifted by the
    # order-preserving int64 key codec (plans/keycodec.py): the schema
    # exposes BIGINT components, predicates arrive as ints, encode to
    # fixed-width offset-decimal strings for the (unchanged) lexicographic
    # composer, and STRICT int bounds tighten exactly (> v ⇔ >= v+1 —
    # impossible for string keys).  The composed range prunes files via
    # the manifest like any string-keyed scan; components decode back to
    # BIGINT after the split.
    from datafusion_bigtable_spark.sources import datasource as bt_ds

    path = _bt_events_int_store(spark, sf_dir)
    bt_ds.register(spark)
    df = (
        spark.read.format("bigtable")
        .option("path", path)
        .option("column_family", "events")
        .option("columns", "etype:string,cents:int64")
        .option("table_partition_cols", "user_id,event_id")
        .option("key_types", "int64,int64")
        .load()
        .filter("user_id = 7 AND event_id > 1000 AND event_id < 2000000")
    )
    return df.select("user_id", "event_id", "etype", "cents")


#: one fake ReadRows service per cells store — the store is immutable once
#: its _SUCCESS marker exists (content-addressed path), so reuse is safe
#: and the bench/driver don't rebuild the in-memory cell map per query.
_SERVICE_CACHE: dict = {}


@query(
    "bt_read_rows_service",
    """
    SELECT LPAD(CAST(user_id AS VARCHAR), 4, '0') AS uid,
           LPAD(CAST(event_id AS VARCHAR), 8, '0') AS eid,
           event_type AS etype,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE user_id = 7
    """,
)
def bt_read_rows_service_q(spark, sf_dir):
    # A19/A12 executed as a DRIVER-ORACLED query (VERDICT r2 #3): the full
    # transport chain — composer ranges → RowSet → family/limit/qualifier
    # filter chain → ReadRows response stream → pivot/split/decode —
    # through the in-process service implementing the server semantics the
    # reference exercises against the emulator (execute_plan.rs:168-212).
    # The response materializes on the driver exactly like the reference
    # collects its RPC stream into RecordBatches; the predicates bound the
    # transfer to one uid's row-key range (server-side RowSet pruning), so
    # driver volume is O(selected rows), never the store.
    from datafusion_bigtable_spark.config import BigtableTableConfig, ColumnSpec
    from datafusion_bigtable_spark.plans.composer import Between as CBetween, Eq as CEq
    from datafusion_bigtable_spark.sources.bigtable_table import BigtableTable
    from datafusion_bigtable_spark.sources.fake_bigtable import service_from_parquet

    path = _bt_events_store(spark, sf_dir)
    if path not in _SERVICE_CACHE:
        _SERVICE_CACHE[path] = service_from_parquet(path)
    table = BigtableTable(
        BigtableTableConfig(
            table="events_cells",
            column_family="events",
            columns=(ColumnSpec("etype", "string"), ColumnSpec("cents", "int64")),
            table_partition_cols=("uid", "eid"),
        ),
        service=_SERVICE_CACHE[path],
    )
    df = table.to_df(
        spark, predicates=[CEq("uid", "0007"), CBetween("eid", "00000000", "99999999")]
    )
    return df.select("uid", "eid", "etype", "cents")


@query(
    "bt_value_pushdown_service",
    """
    SELECT LPAD(CAST(user_id AS VARCHAR), 4, '0') AS uid,
           LPAD(CAST(event_id AS VARCHAR), 8, '0') AS eid,
           event_type AS etype,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE user_id = 7 AND ROUND(value * 100) >= 2000
    """,
)
def bt_value_pushdown_service_q(spark, sf_dir):
    # r7: the reference's unshipped value-filter roadmap (README.md:46-49)
    # over the LIVE transport — the cents bound pushes into the ReadRows
    # request as a per-qualifier Interleave of encoded-byte ranges
    # (grpc_transport.build_value_pred_filter: Chain(qualifier==cents,
    # ValueRange sign-split) interleaved with a keep-rest branch for
    # etype), positioned AFTER the cells-per-column limit so it is
    # latest-then-filter.  The exact predicate re-applies on the decoded
    # frame (A16), and the driver oracle hash-checks the whole path.
    # Server-side reduction is pinned in tests/test_fake_bigtable.py.
    from datafusion_bigtable_spark.config import BigtableTableConfig, ColumnSpec
    from datafusion_bigtable_spark.plans.composer import Between as CBetween, Eq as CEq
    from datafusion_bigtable_spark.sources.bigtable_table import BigtableTable
    from datafusion_bigtable_spark.sources.fake_bigtable import service_from_parquet

    path = _bt_events_store(spark, sf_dir)
    if path not in _SERVICE_CACHE:
        _SERVICE_CACHE[path] = service_from_parquet(path)
    table = BigtableTable(
        BigtableTableConfig(
            table="events_cells",
            column_family="events",
            columns=(ColumnSpec("etype", "string"), ColumnSpec("cents", "int64")),
            table_partition_cols=("uid", "eid"),
        ),
        service=_SERVICE_CACHE[path],
    )
    df = table.to_df(
        spark,
        predicates=[CEq("uid", "0007"), CBetween("eid", "00000000", "99999999")],
        value_filters=[("cents", "ge", 2000)],
    )
    # no caller-side re-filter: to_df owns the exact predicate (A16) — the
    # driver oracle therefore pins to_df's own re-application, not ours
    return df.select("uid", "eid", "etype", "cents")


#: one wire server per cells store (daemon threads, process lifetime) —
#: the socket endpoint the wire query below reads through.
_WIRE_CACHE: dict = {}


@query(
    "bt_read_rows_wire",
    """
    SELECT LPAD(CAST(user_id AS VARCHAR), 4, '0') AS uid,
           LPAD(CAST(event_id AS VARCHAR), 8, '0') AS eid,
           event_type AS etype,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE user_id = 11 AND ROUND(value * 100) < 2000
    """,
)
def bt_read_rows_wire_q(spark, sf_dir):
    # r7: the transport chain ACROSS A REAL SOCKET (sources/wire.py) — the
    # sandbox-honest analogue of the reference's emulator-over-gRPC runs
    # (Makefile:1-15): composer ranges + a sign-split negative value bound
    # serialize into the request, cross localhost TCP to a server wrapping
    # the fake service, and the response streams back frame-by-frame
    # before pivot/split/decode.  Differential wire-vs-in-process parity
    # is pinned in tests/test_wire_transport.py; this entry puts the
    # socket path itself under the driver's hash check.
    from datafusion_bigtable_spark.config import BigtableTableConfig, ColumnSpec
    from datafusion_bigtable_spark.plans.composer import Between as CBetween, Eq as CEq
    from datafusion_bigtable_spark.sources.fake_bigtable import service_from_parquet
    from datafusion_bigtable_spark.sources.bigtable_table import BigtableTable
    from datafusion_bigtable_spark.sources.wire import WireBigtableClient, WireBigtableServer

    path = _bt_events_store(spark, sf_dir)
    if path not in _SERVICE_CACHE:
        _SERVICE_CACHE[path] = service_from_parquet(path)
    if path not in _WIRE_CACHE:
        _WIRE_CACHE[path] = WireBigtableServer(_SERVICE_CACHE[path]).start()
    client = WireBigtableClient(*_WIRE_CACHE[path].address)
    table = BigtableTable(
        BigtableTableConfig(
            table="events_cells",
            column_family="events",
            columns=(ColumnSpec("etype", "string"), ColumnSpec("cents", "int64")),
            table_partition_cols=("uid", "eid"),
        ),
        service=client,
    )
    df = table.to_df(
        spark,
        predicates=[CEq("uid", "0011"), CBetween("eid", "00000000", "99999999")],
        value_filters=[("cents", "lt", 2000)],
    )
    return df.select("uid", "eid", "etype", "cents")


@query(
    "bt_wire_sharded_scan",
    """
    SELECT LPAD(CAST(user_id AS VARCHAR), 4, '0') AS uid,
           LPAD(CAST(event_id AS VARCHAR), 8, '0') AS eid,
           event_type AS etype,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE user_id = 23
    """,
)
def bt_wire_sharded_scan_q(spark, sf_dir):
    # r7: the EXECUTOR-SIDE wire scan in the rotation — spark.read.format
    # ("bigtable").option("endpoint", ...) shards key space at
    # SampleRowKeys boundaries and each task streams its shard over its
    # own socket (datasource.py::_wire_partitions/_wire_scan; the
    # reference's gRPC-inside-the-plan shape, execute_plan.rs:183-212).
    # Unlike bt_read_rows_wire (driver-side to_df fetch), the rows here
    # never touch the driver: pivot/split/decode run in the scan tasks.
    from datafusion_bigtable_spark.sources import datasource as bt_ds
    from datafusion_bigtable_spark.sources.fake_bigtable import service_from_parquet
    from datafusion_bigtable_spark.sources.wire import WireBigtableServer

    bt_ds.register(spark)
    path = _bt_events_store(spark, sf_dir)
    if path not in _SERVICE_CACHE:
        _SERVICE_CACHE[path] = service_from_parquet(path)
    if path not in _WIRE_CACHE:
        _WIRE_CACHE[path] = WireBigtableServer(_SERVICE_CACHE[path]).start()
    host, port = _WIRE_CACHE[path].address
    df = (
        spark.read.format("bigtable")
        .option("endpoint", f"{host}:{port}")
        .option("column_family", "events")
        .option("columns", "etype:string,cents:int64")
        .option("table_partition_cols", "uid,eid")
        .option("allow_full_scan", "false")
        .load()
        .filter("uid = '0023' AND eid BETWEEN '00000000' AND '99999999'")
    )
    return df.select(F.col("uid"), F.col("eid"), "etype", "cents")


@query(
    "bt_mutate_rows_wire",
    """
    SELECT LPAD(CAST(user_id AS VARCHAR), 4, '0') AS uid,
           LPAD(CAST(event_id AS VARCHAR), 8, '0') AS eid,
           event_type AS etype,
           CAST(ROUND(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE user_id = 31
    """,
)
def bt_mutate_rows_wire_q(spark, sf_dir):
    # r12 (VERDICT r11 #1): the WRITE transport in the rotation — a
    # relational frame unpivots and pushes through MutateRows
    # EXECUTOR-SIDE (BigtableTable.mutate: per-task wire connections, one
    # Arrow batch per request group; the r11 toLocalIterator driver funnel
    # is retired and pinned gone in tests/test_wire_transport.py), then
    # the same store reads back over the socket so the driver oracle
    # hash-checks the whole write→read round trip against the source
    # parquet.  A fresh in-process service per call keeps the entry
    # idempotent (re-runs rebuild an identical store; SetCell replays
    # version-replace themselves).
    from datafusion_bigtable_spark.config import BigtableTableConfig, ColumnSpec
    from datafusion_bigtable_spark.plans.composer import Between as CBetween, Eq as CEq
    from datafusion_bigtable_spark.sources.bigtable_table import BigtableTable
    from datafusion_bigtable_spark.sources.fake_bigtable import InProcessBigtableService
    from datafusion_bigtable_spark.sources.wire import WireBigtableClient, WireBigtableServer

    rel = (
        load(spark, sf_dir, "events")
        .filter("user_id = 31")
        .select(
            F.lpad(F.col("user_id").cast("string"), 4, "0").alias("uid"),
            F.lpad(F.col("event_id").cast("string"), 8, "0").alias("eid"),
            F.col("ts").alias("_timestamp"),
            F.col("event_type").alias("etype"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    cfg = BigtableTableConfig(
        table="events_mut",
        column_family="events",
        columns=(ColumnSpec("etype", "string"), ColumnSpec("cents", "int64")),
        table_partition_cols=("uid", "eid"),
    )
    svc = InProcessBigtableService([], table_name=None)
    with WireBigtableServer(svc) as srv:
        table = BigtableTable(cfg, service=WireBigtableClient(*srv.address))
        table.mutate(rel)
        df = table.to_df(
            spark, predicates=[CEq("uid", "0031"), CBetween("eid", "00000000", "99999999")]
        )
        # service-path to_df materializes inside the `with` (the response
        # frame is already local); returning after teardown is safe
        return df.select("uid", "eid", "etype", "cents")


@query(
    "events_sessionize",
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events)
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM gaps GROUP BY user_id
    """,
)
def sessionize(spark, sf_dir):
    # Gap-based sessionization: lag + conditional sum — two windows, one
    # shuffle on user_id (the streaming module has the session_window twin).
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = F.col("ts") - prev  # day-time interval (NTZ can't cast to long in ANSI mode)
    new_session = F.when(prev.isNull() | (gap > F.expr("INTERVAL 30 MINUTE")), 1).otherwise(0)
    return (
        e.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events"))
    )


@query(
    "asof_join_latest_event",
    """
    SELECT o_orderkey, user_id, ROUND(value, 4) AS last_value FROM (
      SELECT o.o_orderkey, e.user_id, e.value,
             ROW_NUMBER() OVER (PARTITION BY o.o_orderkey
                                ORDER BY e.ts DESC, e.event_id DESC) AS rn
      FROM orders o JOIN events e
        ON e.user_id = o.o_custkey AND e.ts <= TIMESTAMP '2024-01-15 00:00:00'
      WHERE o.o_custkey < 150) t
    WHERE rn = 1
    """,
)
def asof_join(spark, sf_dir):
    # As-of join (Spark has no native one): equi-join on the entity key +
    # rank-1 window on the time key.  At scale the window's rank-limit
    # turns into WindowGroupLimit (partial top-1 before shuffle).
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 150)
    e = load(spark, sf_dir, "events").filter(F.col("ts") <= F.lit("2024-01-15 00:00:00").cast("timestamp_ntz"))
    j = o.join(e, o.o_custkey == e.user_id)
    w = W.partitionBy("o_orderkey").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderkey", "user_id", F.round("value", 4).alias("last_value"))
    )


@query(
    "interval_join_order_events",
    """
    WITH iv AS (
      SELECT o_orderkey,
             o_custkey AS user_id,
             TIMESTAMP '2024-01-01 00:00:00'
               + INTERVAL 1 DAY * CAST(o_orderkey % 28 AS INT) AS ws
      FROM orders WHERE o_custkey <= 150)
    SELECT iv.o_orderkey, COUNT(*) AS n_events, ROUND(SUM(e.value), 4) AS value_sum
    FROM iv JOIN events e
      ON e.user_id = iv.user_id
     AND iv.ws <= e.ts AND e.ts < iv.ws + INTERVAL 3 DAY
    GROUP BY iv.o_orderkey
    """,
)
def interval_join_order_events_q(spark, sf_dir):
    # Interval join via time bucketing (operators/rangejoin.py): the naive
    # equi-join-on-key + range-filter plan materializes a per-key cartesian
    # (hot user × many intervals = task that never finishes at 100 TB);
    # bucketing quantizes time, explodes each interval over the ~4 buckets
    # it overlaps, and equi-joins on (user, bucket) — ONE ordinary shuffle
    # join whose task size follows bucket occupancy, with the exact range
    # predicate as a residual filter.  Flink's interval join runs the same
    # decomposition.  Demo intervals: 3-day window per order, start spread
    # deterministically over January 2024 (the events table's span).
    from datafusion_bigtable_spark.operators.rangejoin import interval_join_bucketed

    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "value"
    )
    iv = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 150)
        .select(
            "o_orderkey",
            F.col("o_custkey").alias("user_id"),
            F.expr(
                "TIMESTAMP_NTZ'2024-01-01 00:00:00'"
                " + make_interval(0, 0, 0, CAST(o_orderkey % 28 AS INT), 0, 0, 0)"
            ).alias("ws"),
        )
        .withColumn("we", F.expr("ws + INTERVAL 3 DAY"))
    )
    j = interval_join_bucketed(
        ev, iv, key="user_id", ts="ts", start="ws", end="we", bucket="1 day"
    )
    return j.groupBy("o_orderkey").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("value_sum")
    )


# ---------------------------------------------------------------------------
# Driver-window scheduling.  The correctness driver hash-checks only the
# FIRST 50 entries of queries() iteration order per round, so iteration order
# IS the verification schedule.  It is derived at call time from the committed
# CORRECTNESS_r{N}.json artifacts next to the package: a query is green in
# round N when its record there matches rows, schema and hash with no error.
# Queries sort by their last green round, oldest first (never green = 0); the
# stable sort keeps registry order for ties.  See COVERAGE.md.
# ---------------------------------------------------------------------------

_ARTIFACT_DIR = Path(__file__).resolve().parent.parent


def _last_green_rounds() -> dict[str, int]:
    """name -> latest round whose committed driver artifact proved it green.

    An artifact that does not parse, or whose name carries no integer round,
    contributes nothing: scheduling errs toward re-verifying, never crashes.
    """
    out: dict[str, int] = {}
    for art in _ARTIFACT_DIR.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r([0-9]+)\.json", art.name)
        if m is None:
            continue
        try:
            greens = [
                name
                for name, r in json.loads(art.read_text()).items()
                if all(r.get(k) is True for k in ("rows_match", "schema_match", "hash_match"))
                and r.get("err") is None
            ]
        except (ValueError, OSError, AttributeError):
            continue
        for name in greens:
            out[name] = max(out.get(name, 0), int(m.group(1)))
    return out


def _schedule() -> list[str]:
    last = _last_green_rounds()
    return sorted(REGISTRY, key=lambda n: last.get(n, 0))


def names() -> list[str]:
    return _schedule()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _schedule()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].sql for name in _schedule() if REGISTRY[name].sql is not None
    }


# =========================================================================
# LLM-pipeline extensions: dedup / similarity / text analysis
# (operators live in operators/dedup.py, operators/similarity.py,
#  functions/text.py — these entries bind them to testdata + oracles)
# =========================================================================

_SHINGLES_CTE = """
    w AS (
      SELECT doc_id AS id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS w
      FROM documents),
    sh AS (
      SELECT DISTINCT id, w[g] || ' ' || w[g+1] || ' ' || w[g+2] AS shingle
      FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-2, 0))) AS g) i)
"""


@query(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_q(spark, sf_dir):
    from datafusion_bigtable_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(load(spark, sf_dir, "documents"))


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id)
    SELECT id_a, id_b,
           ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
    FROM inter JOIN sizes sa ON sa.id = inter.id_a JOIN sizes sb ON sb.id = inter.id_b
    WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.5
    """,
)
def dedup_jaccard_q(spark, sf_dir):
    from datafusion_bigtable_spark.operators.dedup import jaccard_pairs

    # df_cap is opted into EXPLICITLY (the library default is exact): the
    # at-scale posture keeps hot-shingle buckets bounded; measured max df
    # is 25 at sf0.1, so the capped result is bit-identical to the exact
    # oracle at every test SF.
    return jaccard_pairs(load(spark, sf_dir, "documents"), k=3, threshold=0.5, df_cap=1000)


@query(
    "dedup_containment",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id),
    j AS (SELECT id_a, id_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b
          FROM inter JOIN sizes sa ON sa.id = inter.id_a JOIN sizes sb ON sb.id = inter.id_b),
    d AS (
      SELECT id_a AS src_id, id_b AS dst_id,
             ROUND(CAST(n_inter AS DOUBLE) / n_a, 4) AS containment FROM j
      UNION ALL
      SELECT id_b AS src_id, id_a AS dst_id,
             ROUND(CAST(n_inter AS DOUBLE) / n_b, 4) AS containment FROM j)
    SELECT src_id, dst_id, containment FROM d WHERE containment >= 0.6
    """,
)
def dedup_containment_q(spark, sf_dir):
    # Directed near-containment (Broder's asymmetric resemblance): finds
    # "src is a fragment of dst" pairs that symmetric Jaccard structurally
    # misses (J ≤ |A|/|B| for A ⊆ B).  Same blocked inverted-list shape as
    # dedup_ngram_jaccard — df_cap bounds hot-shingle buckets at scale;
    # measured max df 25 at sf0.1, so capped ≡ exact at every test SF.
    from datafusion_bigtable_spark.operators.dedup import containment_pairs

    return containment_pairs(
        load(spark, sf_dir, "documents"), k=3, threshold=0.6, df_cap=1000
    )


@query(
    "dedup_substring_spans",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS w
      FROM documents),
    g AS (
      SELECT doc_id, i AS pos, array_to_string(w[i:i+4], ' ') AS gram
      FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 4)) AS i) s
      WHERE len(w) >= 5),
    gc AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) <= 200),
    g2 AS (SELECT g.* FROM g JOIN gc USING (gram)),
    p AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
      FROM g2 a JOIN g2 b USING (gram) WHERE a.doc_id < b.doc_id),
    r AS (
      SELECT da, db, pa,
             pa - ROW_NUMBER() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS grp,
             pa - pb AS diag
      FROM p),
    s AS (
      SELECT da, db, COUNT(*) AS run
      FROM r GROUP BY da, db, diag, grp HAVING COUNT(*) >= 4)
    SELECT da AS doc_a, db AS doc_b,
           CAST(MAX(run) + 4 AS BIGINT) AS max_span_words,
           CAST(COUNT(*) AS BIGINT) AS n_spans
    FROM s GROUP BY da, db
    """,
)
def dedup_substring_spans_q(spark, sf_dir):
    # Span-level exact dedup (operators/dedup.py::substring_span_pairs) —
    # the Lee et al. 2022 suffix-array dedup re-expressed as diagonal runs
    # over positional 5-gram matches: pairs sharing an exact >= 8-word
    # span, with the longest span length and span count per pair.  One
    # gram shuffle (inverted-list pairs, window-capped hot grams), one
    # (pair, diagonal) window shuffle — never a global sort.  Positions
    # are 0-based here and 1-based in the oracle; diagonals and run
    # lengths are offset-invariant, so the frames agree exactly.
    from datafusion_bigtable_spark.operators.dedup import substring_span_pairs

    return substring_span_pairs(
        load(spark, sf_dir, "documents"), n=5, min_span_words=8, df_cap=200
    )


@query(
    "dedup_minhash_lsh",
    f"""
    WITH {_SHINGLES_CTE},
    mh AS (
      SELECT id, s.seed, MIN(md5(CAST(s.seed AS VARCHAR) || '|' || shingle)) AS minhash
      FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) s
      GROUP BY id, s.seed),
    banded AS (
      SELECT id, CAST(seed // 2 AS INT) AS band,
             string_agg(minhash, ',' ORDER BY minhash) AS band_sig
      FROM mh GROUP BY id, seed // 2)
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id
    """,
)
def dedup_minhash_q(spark, sf_dir):
    from datafusion_bigtable_spark.operators.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(load(spark, sf_dir, "documents"), bands=4, rows_per_band=2, k=3)


@query(
    "dedup_minhash_estimate",
    f"""
    WITH {_SHINGLES_CTE},
    mh AS (
      SELECT id, s.seed, MIN(md5(CAST(s.seed AS VARCHAR) || '|' || shingle)) AS minhash
      FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) s
      GROUP BY id, s.seed),
    banded AS (
      SELECT id, CAST(seed // 2 AS INT) AS band,
             string_agg(minhash, ',' ORDER BY minhash) AS band_sig
      FROM mh GROUP BY id, seed // 2),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id),
    est AS (
      SELECT p.id_a, p.id_b,
             CAST(SUM(CASE WHEN x.minhash = y.minhash THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
      FROM pairs p
      JOIN mh x ON x.id = p.id_a
      JOIN mh y ON y.id = p.id_b AND y.seed = x.seed
      GROUP BY p.id_a, p.id_b)
    SELECT id_a, id_b, n_agree,
           ROUND(n_agree / 8.0, 4) AS est_jaccard,
           n_agree / 8.0 >= 0.5 AS est_dup
    FROM est
    """,
)
def dedup_minhash_estimate_q(spark, sf_dir):
    # Signature-only near-dup verify (operators/dedup.py::lsh_estimated_pairs):
    # LSH candidates scored by the fraction of agreeing minhash positions
    # (Broder: P[mh_a = mh_b] = Jaccard), so verification never re-joins the
    # shingle table — the second corpus pass the exact-verify path pays.
    # The oracle recomputes the estimate the SLOW way (pairs × seeds join);
    # the Spark plan carries both signature arrays through the band join
    # and zips them row-locally — identical numbers, zero post-join work.
    from datafusion_bigtable_spark.operators.dedup import lsh_estimated_pairs

    return lsh_estimated_pairs(
        load(spark, sf_dir, "documents"), bands=4, rows_per_band=2, k=3, threshold=0.5
    )


@query(
    "dedup_lsh_quality",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id),
    truth AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON sa.id = inter.id_a JOIN sizes sb ON sb.id = inter.id_b
      WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.5),
    mh AS (
      SELECT id, s.seed, MIN(md5(CAST(s.seed AS VARCHAR) || '|' || shingle)) AS minhash
      FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) s
      GROUP BY id, s.seed),
    banded AS (
      SELECT id, CAST(seed // 2 AS INT) AS band,
             string_agg(minhash, ',' ORDER BY minhash) AS band_sig
      FROM mh GROUP BY id, seed // 2),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id),
    comb AS (
      SELECT COALESCE(t.id_a, c.id_a) AS id_a, COALESCE(t.id_b, c.id_b) AS id_b,
             t.id_a IS NOT NULL AS is_t, c.id_a IS NOT NULL AS is_c
      FROM truth t FULL JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b),
    agg AS (
      SELECT CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
             CAST(SUM(CASE WHEN is_c THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
             CAST(SUM(CASE WHEN is_t AND is_c THEN 1 ELSE 0 END) AS BIGINT) AS n_true_positive
      FROM comb)
    SELECT n_truth, n_candidates, n_true_positive,
           ROUND(n_true_positive * 1.0 / n_candidates, 4) AS precision,
           ROUND(n_true_positive * 1.0 / n_truth, 4) AS recall
    FROM agg
    """,
)
def dedup_lsh_quality_q(spark, sf_dir):
    # LSH banding quality report (operators/dedup.py::lsh_quality_report):
    # measured precision/recall of the (4 bands × 2 rows) candidate set
    # against exact-Jaccard-≥0.5 ground truth — the number that justifies
    # a banding choice before committing a full-corpus dedup pass.  At
    # 100 TB this runs on a hash-sampled slice; here the whole table IS
    # the slice.
    from datafusion_bigtable_spark.operators.dedup import lsh_quality_report

    return lsh_quality_report(
        load(spark, sf_dir, "documents"), bands=4, rows_per_band=2, k=3, threshold=0.5, df_cap=1000
    )


@query(
    "dedup_prefix_filter",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id)
    SELECT id_a, id_b,
           ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
    FROM inter JOIN sizes sa ON sa.id = inter.id_a JOIN sizes sb ON sb.id = inter.id_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
    """,
)
def dedup_prefix_filter_q(spark, sf_dir):
    # Prefix-filtering exact threshold join (operators/dedup.py::
    # prefix_filter_pairs, SSJoin/PPJoin): candidates from an inverted
    # index over each doc's RAREST |S|-⌈t|S|⌉+1 shingles only — exact
    # recall by theorem, sub-quadratic by economics (hot boilerplate
    # shingles land in suffixes, never indexed).  The oracle is the plain
    # exact all-pairs join with NO prefix logic: a single pair lost to
    # the filter would hash-mismatch, so driver correctness IS the
    # zero-false-negative proof.
    from datafusion_bigtable_spark.operators.dedup import prefix_filter_pairs

    return prefix_filter_pairs(load(spark, sf_dir, "documents"), k=3, threshold=0.6)


@query(
    "corpus_leakage_safe_split",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    mh AS (
      SELECT id, s.seed, MIN(md5(CAST(s.seed AS VARCHAR) || '|' || shingle)) AS minhash
      FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) s
      GROUP BY id, s.seed),
    banded AS (
      SELECT id, CAST(seed // 2 AS INT) AS band,
             string_agg(minhash, ',' ORDER BY minhash) AS band_sig
      FROM mh GROUP BY id, seed // 2),
    pairs AS (
      SELECT DISTINCT a.id AS pa, b.id AS pb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id),
    edges AS (SELECT pa AS a, pb AS b FROM pairs UNION SELECT pb, pa FROM pairs),
    reach AS (
      SELECT a AS id, b AS r FROM edges
      UNION
      SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
    comp AS (SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id),
    lab AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
    s AS (
      SELECT doc_id, component,
             CAST(('0x' || substr(md5('split|' || CAST(component AS VARCHAR)), 1, 8)) AS INT64) % 100 AS h
      FROM lab)
    SELECT doc_id, component,
           CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'valid' ELSE 'test' END AS split
    FROM s
    """,
)
def corpus_leakage_safe_split_q(spark, sf_dir):
    # Leakage-safe train/valid/test split: the classic eval-contamination
    # bug is a random PER-DOC split that puts two near-duplicates on
    # opposite sides of the train/test line.  Here the split key is the
    # near-dup CLUSTER (LSH pairs → connected components; singletons are
    # their own cluster), so a cluster lands wholly in one split by
    # construction — md5 of the component id buckets 80/10/10.  Scale
    # shape: the component map covers dup members only (small — it
    # AQE-broadcasts into the left join), everything upstream is the
    # audited LSH+CC pipeline, and the split decision is one scan-fused
    # hash per doc.
    from datafusion_bigtable_spark.operators.dedup import lsh_candidate_pairs
    from datafusion_bigtable_spark.operators.graph import connected_components

    d = load(spark, sf_dir, "documents")
    comp = connected_components(lsh_candidate_pairs(d, bands=4, rows_per_band=2, k=3))
    lab = d.select("doc_id").join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
    component = F.coalesce(F.col("component"), F.col("doc_id")).cast("long")
    h = (
        F.conv(F.substring(F.md5(F.concat(F.lit("split|"), component.cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return lab.select(
        "doc_id",
        component.alias("component"),
        F.when(h < 80, "train").when(h < 90, "valid").otherwise("test").alias("split"),
    )


@query(
    "dedup_sampled_rate",
    f"""
    WITH {_SHINGLES_CTE},
    mh AS (
      SELECT id, s.seed, MIN(md5(CAST(s.seed AS VARCHAR) || '|' || shingle)) AS minhash
      FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) s
      GROUP BY id, s.seed),
    banded AS (
      SELECT id, CAST(seed // 2 AS INT) AS band,
             string_agg(minhash, ',' ORDER BY minhash) AS band_sig
      FROM mh GROUP BY id, seed // 2),
    probes AS (
      SELECT * FROM banded
      WHERE CAST(('0x' || substr(md5('s1' || CAST(id AS VARCHAR)), 1, 8)) AS INT64) % 20 = 0),
    hit_ids AS (
      SELECT DISTINCT s.id
      FROM probes s JOIN banded c
        ON s.band = c.band AND s.band_sig = c.band_sig AND s.id != c.id),
    flags AS (
      SELECT p.id, h.id IS NOT NULL AS has_dup
      FROM (SELECT DISTINCT id FROM probes) p LEFT JOIN hit_ids h ON p.id = h.id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN has_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_with_dup,
           ROUND(SUM(CASE WHEN has_dup THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS dup_rate
    FROM flags
    """,
)
def dedup_sampled_rate_q(spark, sf_dir):
    # Corpus dup-rate audit (operators/dedup.py::lsh_dup_rate_sample): the
    # md5-sampled 1/20 slice probes the FULL corpus band index via a LEFT
    # SEMI join (short-circuits at first partner, no pair rows emitted) —
    # one linear banding pass + a sample-sized probe instead of pair
    # enumeration + connected components.  The pre-commit sizing number
    # for a full dedup run.
    from datafusion_bigtable_spark.operators.dedup import lsh_dup_rate_sample

    return lsh_dup_rate_sample(load(spark, sf_dir, "documents"), sample_mod=20)


@query(
    "dedup_connected_components",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    mh AS (
      SELECT id, s.seed, MIN(md5(CAST(s.seed AS VARCHAR) || '|' || shingle)) AS minhash
      FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) s
      GROUP BY id, s.seed),
    banded AS (
      SELECT id, CAST(seed // 2 AS INT) AS band,
             string_agg(minhash, ',' ORDER BY minhash) AS band_sig
      FROM mh GROUP BY id, seed // 2),
    pairs AS (
      SELECT DISTINCT a.id AS pa, b.id AS pb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id),
    edges AS (SELECT pa AS a, pb AS b FROM pairs UNION SELECT pb, pa FROM pairs),
    reach AS (
      SELECT a AS id, b AS r FROM edges
      UNION
      SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a)
    SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id
    """,
)
def dedup_components_q(spark, sf_dir):
    # Duplicate CLUSTERS from the minhash candidate pairs: an ITERATIVE
    # operator (driver loop over distributed min-label rounds) whose
    # fixpoint is order-independent — which is why a recursive-CTE
    # transitive closure can oracle it.  At 100 TB the loop is O(cluster
    # diameter) shuffles; dup clusters are near-cliques so it converges in
    # 2-4 rounds (the closure oracle, by contrast, is exponential-fanout
    # and only viable at oracle scale).
    from datafusion_bigtable_spark.operators.dedup import lsh_candidate_pairs
    from datafusion_bigtable_spark.operators.graph import connected_components

    pairs = lsh_candidate_pairs(load(spark, sf_dir, "documents"), bands=4, rows_per_band=2, k=3)
    return connected_components(pairs)


@query(
    "dedup_simhash",
    """
    WITH wds AS (
      SELECT DISTINCT doc_id AS id, wrd AS word FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')) AS wrd
        FROM documents)),
    h AS (SELECT id, md5(word) AS h FROM wds),
    agg AS (SELECT id, {sums} FROM h GROUP BY id)
    SELECT id, {fp} AS simhash FROM agg
    """.format(
        sums=", ".join(
            f"SUM(CASE WHEN substr(h, {j + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS bit_{j}"
            for j in range(16)
        ),
        fp=" || ".join(f"(CASE WHEN bit_{j} > 0 THEN '1' ELSE '0' END)" for j in range(16)),
    ),
)
def dedup_simhash_q(spark, sf_dir):
    from datafusion_bigtable_spark.operators.dedup import simhash_fingerprints

    return simhash_fingerprints(load(spark, sf_dir, "documents"), bits=16)


@query(
    "dedup_embedding_cosine",
    """
    WITH r AS (
      SELECT vec_id, label, embedding,
             CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) - 1)
                        / 128) AS BIGINT) AS sub
      FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM r a JOIN r b ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
    """,
)
def dedup_embedding_q(spark, sf_dir):
    # The metadata-label blocking TEACHING entry, now bounded (VERDICT r11
    # #2 — the registry's one remaining quadratic plan): block_cap=128
    # splits each label block into deterministic id-ordered sub-blocks of
    # ≤128, so Σ|block|² ≤ n·128 stays linear at any corpus size (sf1's
    # 2180-member blocks cost 283 s uncapped).  At the driver's sf0.01 the
    # largest label block is 59 < 128 — one sub-block per label — so the
    # recorded hash is byte-identical to the uncapped history; the oracle's
    # `r` CTE mirrors the floor(rank/cap) rule exactly.  The IVF variants
    # below remain the prescribed corpus-scale blocking.
    from datafusion_bigtable_spark.operators.dedup import embedding_dup_pairs

    return embedding_dup_pairs(load(spark, sf_dir, "embeddings"), threshold=0.4, block_cap=128)


@query(
    "dedup_embedding_cosine_ivf",
    """
    WITH nc AS (
      SELECT GREATEST(16, CAST(CEIL(COUNT(*) / 128.0) AS BIGINT)) AS n
      FROM embeddings),
    seeds AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS sv
      FROM embeddings WHERE vec_id < (SELECT n FROM nc)),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, s.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.sv) DESC,
                          s.cell) AS rn
        FROM embeddings e CROSS JOIN seeds s) t
      WHERE rn = 1)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM embeddings a
      JOIN assign aa ON aa.vec_id = a.vec_id
      JOIN assign ba ON ba.cell = aa.cell AND ba.vec_id > a.vec_id
      JOIN embeddings b ON b.vec_id = ba.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
    """,
)
def dedup_embedding_ivf_q(spark, sf_dir):
    # The corpus-scale blocking dedup_embedding_cosine's docstring
    # prescribes (VERDICT r7 #8): the blocking key is the vector's own
    # IVF cell (argmax cosine over the deterministic seed codebook, same
    # assignment as sim_topk_ivf_cells) instead of the metadata label —
    # Σ|cell|² for corpora with no label at all.  One cell-key shuffle;
    # centroids broadcast.
    #
    # n_cells = max(16, ceil(corpus/128)) is the CORPUS-RELATIVE dial
    # (VERDICT r8 #2 / r9 #2): expected block size — and per-cell pair
    # cost — stays ~128 at any corpus size (linear total, vs quadratic
    # at any fixed n_cells).  At the tested SFs (500/500/2000 vectors)
    # the floor wins and the derived value is exactly 16, so every
    # recorded hash is preserved; at sf1 (20k) it derives 157 cells.
    # The oracle mirrors the derivation in its `nc` CTE — the seed
    # codebook stays `vec_id < derived`, SQL-expressible.  r18: the
    # corpus size feeding the dial comes from the parquet FOOTER
    # (table_num_rows — identical to COUNT(*) by format contract), not
    # a count action; the operator's target_block_size path (kept for
    # DataFrame callers with no file source) measured as a full count
    # job + its planning round-trip per call here.
    from datafusion_bigtable_spark.operators.dedup import embedding_dup_pairs_ivf

    n = table_num_rows(sf_dir, "embeddings")
    return embedding_dup_pairs_ivf(
        load(spark, sf_dir, "embeddings"),
        threshold=0.4,
        n_cells=max(16, -(-n // 128)),
        pair_salt=_pair_salt_for(n),
    )


@query(
    "dedup_embedding_cosine_ivf2",
    """
    WITH nc AS (
      SELECT GREATEST(16, CAST(CEIL(COUNT(*) / 128.0) AS BIGINT)) AS n
      FROM embeddings),
    cc AS (SELECT CAST(CEIL(SQRT(n)) AS BIGINT) AS c FROM nc),
    fine AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS fv
      FROM embeddings WHERE vec_id < (SELECT n FROM nc)),
    coarse AS (
      SELECT vec_id AS ccell, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < (SELECT c FROM cc)),
    f2c AS (
      SELECT cell, ccell FROM (
        SELECT f.cell, s.ccell,
               ROW_NUMBER() OVER (
                 PARTITION BY f.cell
                 ORDER BY list_cosine_similarity(f.fv, s.cv) DESC, s.ccell) AS rn
        FROM fine f CROSS JOIN coarse s) t
      WHERE rn = 1),
    vc AS (
      SELECT vec_id, ccell FROM (
        SELECT e.vec_id, s.ccell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) DESC,
                          s.ccell) AS rn
        FROM embeddings e CROSS JOIN coarse s) t
      WHERE rn = 1),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, f.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(CAST(e2.embedding AS DOUBLE[]), f.fv) DESC,
                          f.cell) AS rn
        FROM vc v
          JOIN f2c m ON m.ccell = v.ccell
          JOIN fine f ON f.cell = m.cell
          JOIN embeddings e2 ON e2.vec_id = v.vec_id) t
      WHERE rn = 1)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM embeddings a
      JOIN assign aa ON aa.vec_id = a.vec_id
      JOIN assign ba ON ba.cell = aa.cell AND ba.vec_id > a.vec_id
      JOIN embeddings b ON b.vec_id = ba.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
    """,
)
def dedup_embedding_ivf2_q(spark, sf_dir):
    # Two-level (coarse -> fine) IVF blocking — the hierarchical
    # quantizer that removes flat assignment's n x n_cells fold cost
    # (O(n^2/target) compute at a corpus-relative cell count; SCALE.md
    # r10): coarse = first ceil(sqrt(n_cells)) seeds, fine = first
    # n_cells, each vector pays ~2*sqrt(n_cells) folds instead of
    # n_cells.  The assignment DIFFERS from the flat one near coarse
    # boundaries, so this is its own oracle-checked query (the oracle
    # reproduces both ranking levels declaratively), not a silent flag
    # on dedup_embedding_cosine_ivf.  Same derived n_cells dial; same
    # owned-index materialization discipline.
    from datafusion_bigtable_spark.operators.dedup import embedding_dup_pairs_ivf
    from datafusion_bigtable_spark.operators.similarity import (
        build_ivf_index_two_level,
        materialize_owned,
    )

    e = load(spark, sf_dir, "embeddings")
    # corpus size from the parquet footer (r18) — see dedup_embedding_cosine_ivf
    n = table_num_rows(sf_dir, "embeddings")
    n_cells = max(16, -(-n // 128))
    idx = build_ivf_index_two_level(e, n_cells=n_cells)
    pairs = embedding_dup_pairs_ivf(
        e, threshold=0.4, index=idx, pair_salt=_pair_salt_for(n)
    )
    return materialize_owned(pairs, idx)


@query(
    "text_bpe_tokenize",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(64 AS BIGINT) AS n_merges,
           TRUE AS round_trip_ok, TRUE AS compresses
    FROM documents
    WHERE length(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) > 0
    """,
)
def text_bpe_q(spark, sf_dir):
    # REAL byte-pair encoding (operators/bpe.py): greedy merges trained
    # on a bounded md5-ordered sample (driver-side, the codebook
    # pattern), then one shuffle-free Arrow-batched apply over the
    # corpus with broadcast merge ranks and a per-word memo.  Training
    # is greedy-sequential — not SQL-expressible — so the oracle asserts
    # DECLARATIVE INVARIANTS instead (the trained-codebook pattern):
    # every doc detokenizes back to its normalized text EXACTLY
    # (lossless, bit-wise), the merged encoding is strictly shorter than
    # character-level corpus-wide, and the vocabulary carries exactly
    # the requested 64 merges (the synthetic corpus saturates — every
    # distinct word fully collapsed — at 93, so 64 keeps the exact-count
    # invariant meaningful).  A wrong merge table, a broken apply
    # loop, or a lossy word-marker convention each flip a boolean.
    from datafusion_bigtable_spark.operators.bpe import bpe_token_stats, train_bpe

    docs = load(spark, sf_dir, "documents")
    merges = train_bpe(docs, n_merges=64)
    stats = bpe_token_stats(docs, merges)
    return stats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.lit(len(merges)).cast("long").alias("n_merges"),
        F.min(F.col("round_trip_ok")).alias("round_trip_ok"),
        (F.sum("n_tokens") < F.sum("n_chars")).alias("compresses"),
    )


@query(
    "text_ngram_perplexity",
    """
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents),
    tg AS (
      SELECT doc_id, substr(t, i, 3) AS tri
      FROM n, LATERAL (SELECT unnest(generate_series(1, length(t) - 2)) AS i) s
      WHERE length(t) >= 3),
    m AS (SELECT tri, COUNT(*) AS c FROM tg GROUP BY tri),
    px AS (SELECT substr(tri, 1, 2) AS ctx, SUM(c) AS cc FROM m GROUP BY 1),
    sc AS (
      SELECT tg.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_trigrams,
             SUM(-ln((COALESCE(m.c, 0) + 1.0) / (COALESCE(px.cc, 0) + 37.0))) AS nll
      FROM tg
        LEFT JOIN m USING (tri)
        LEFT JOIN px ON px.ctx = substr(tg.tri, 1, 2)
      GROUP BY tg.doc_id)
    SELECT doc_id, n_trigrams,
           ROUND(nll / n_trigrams, 4) AS avg_nll,
           ROUND(nll / n_trigrams, 4) > 0.84 AS high_perplexity
    FROM sc
    """,
)
def text_perplexity_q(spark, sf_dir):
    # CCNet-style LM-perplexity curation (operators/perplexity.py):
    # char-trigram add-one model whose vocabulary is ALPHABET-bounded
    # (37³), so the model broadcasts legitimately at any corpus size —
    # the scale property a word-level KenLM doesn't have without an
    # external-model seam.  One gram shuffle trains; scoring is two
    # broadcast equi-joins + one per-doc aggregate; the flag compares
    # the ROUNDED avg-NLL so engine and oracle agree at the boundary.
    from datafusion_bigtable_spark.operators.perplexity import ngram_perplexity

    # 0.84 sits at the ~97th percentile of this corpus's avg-NLL
    # (measured 0.67-0.88 at sf0.01): the flag carries real signal
    return ngram_perplexity(load(spark, sf_dir, "documents"), threshold=0.84)


@query(
    "text_word_perplexity",
    """
    WITH n AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      FROM documents),
    w AS (
      SELECT doc_id, string_split(t, ' ') AS ws FROM n WHERE length(t) > 0),
    tok AS (SELECT unnest(ws) AS word FROM w),
    vc AS (
      SELECT word FROM (
        SELECT word, COUNT(*) AS c FROM tok GROUP BY word
        ORDER BY c DESC, word LIMIT 512) v),
    vn AS (SELECT COUNT(*) AS v FROM vc),
    bgr AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) s
      WHERE len(ws) >= 2),
    bg AS (
      SELECT doc_id,
             CASE WHEN v1.word IS NULL THEN '<unk>' ELSE bgr.w1 END AS m1,
             CASE WHEN v2.word IS NULL THEN '<unk>' ELSE bgr.w2 END AS m2
      FROM bgr
        LEFT JOIN vc v1 ON v1.word = bgr.w1
        LEFT JOIN vc v2 ON v2.word = bgr.w2),
    m AS (SELECT m1, m2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    px AS (SELECT m1, SUM(c) AS cc FROM m GROUP BY 1),
    sc AS (
      SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             SUM(-ln((COALESCE(m.c, 0) + 1.0) /
                     (COALESCE(px.cc, 0) + (SELECT v FROM vn) + 1.0))) AS nll
      FROM bg
        LEFT JOIN m USING (m1, m2)
        LEFT JOIN px USING (m1)
      GROUP BY bg.doc_id)
    SELECT doc_id, n_bigrams,
           ROUND(nll / n_bigrams, 4) AS avg_nll,
           ROUND(nll / n_bigrams, 4) > 3.45 AS high_perplexity
    FROM sc
    """,
)
def text_word_perplexity_q(spark, sf_dir):
    # Word-level CCNet sibling of text_ngram_perplexity (VERDICT r8 #4):
    # a top-512 word bigram model with an explicit <unk> bucket.  The
    # OOV mapping is what makes a WORD model scale-legal: every model
    # table is keyed by top-V ∪ {<unk>}, so its size is bounded by
    # (V+1)² regardless of corpus size and the four scoring joins stay
    # broadcast (plan-contract-pinned).  Vocabulary is a trained
    # artifact — one distributed count, deterministic top-V, bounded
    # driver collect — mirrored exactly by the oracle's vc CTE.
    # 3.45 sits at the ~97th percentile of this corpus's word-level
    # avg-NLL (measured 3.27-3.61 at sf0.01): the flag carries signal.
    from datafusion_bigtable_spark.operators.perplexity import word_perplexity

    return word_perplexity(
        load(spark, sf_dir, "documents"), vocab_size=512, threshold=3.45
    )


@query(
    "dedup_semantic_prune",
    """
    WITH RECURSIVE nc AS (
      SELECT GREATEST(16, CAST(CEIL(COUNT(*) / 128.0) AS BIGINT)) AS n
      FROM embeddings),
    cc AS (SELECT CAST(CEIL(SQRT(n)) AS BIGINT) AS c FROM nc),
    fine AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS fv
      FROM embeddings WHERE vec_id < (SELECT n FROM nc)),
    coarse AS (
      SELECT vec_id AS ccell, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < (SELECT c FROM cc)),
    f2c AS (
      SELECT cell, ccell FROM (
        SELECT f.cell, s.ccell,
               ROW_NUMBER() OVER (
                 PARTITION BY f.cell
                 ORDER BY list_cosine_similarity(f.fv, s.cv) DESC, s.ccell) AS rn
        FROM fine f CROSS JOIN coarse s) t
      WHERE rn = 1),
    vcc AS (
      SELECT vec_id, ccell FROM (
        SELECT e.vec_id, s.ccell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) DESC,
                          s.ccell) AS rn
        FROM embeddings e CROSS JOIN coarse s) t
      WHERE rn = 1),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, f.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_cosine_similarity(CAST(e2.embedding AS DOUBLE[]), f.fv) DESC,
                          f.cell) AS rn
        FROM vcc v
          JOIN f2c m ON m.ccell = v.ccell
          JOIN fine f ON f.cell = m.cell
          JOIN embeddings e2 ON e2.vec_id = v.vec_id) t
      WHERE rn = 1),
    pairs AS (
      SELECT a.vec_id AS pa, b.vec_id AS pb
      FROM embeddings a
        JOIN assign aa ON aa.vec_id = a.vec_id
        JOIN assign ba ON ba.cell = aa.cell AND ba.vec_id > a.vec_id
        JOIN embeddings b ON b.vec_id = ba.vec_id
      WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6) >= 0.4),
    edges AS (SELECT pa AS a, pb AS b FROM pairs UNION SELECT pb, pa FROM pairs),
    reach AS (
      SELECT a AS id, b AS r FROM edges
      UNION
      SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
    comp AS (SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id)
    SELECT e.vec_id, (c.id IS NULL OR c.component = e.vec_id) AS keep
    FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id
    """,
)
def dedup_semantic_prune_q(spark, sf_dir):
    # SemDeDup (Abbas et al. 2023, arXiv:2303.09540) re-expressed on the
    # engine's existing primitives: cluster embeddings into IVF cells
    # (the paper's k-means step — same broadcast-codebook assignment as
    # sim_topk_ivf_cells), pair up near-duplicates WITHIN each cell by
    # cosine (Σ|cell|², the blocked self-join), connect the pair graph,
    # and keep one representative per semantic cluster (min vec_id —
    # the paper keeps the lowest-centroid-distance item; min-id is the
    # deterministic twin the oracle can reproduce).  Output is a keep
    # flag per vector — the shape a curation pipeline joins back onto
    # the corpus as an anti-join.
    #
    # Scale shape: one cell-key shuffle for pairing, a bounded-collect
    # union-find (or O(log n) distributed rounds past the cap) for
    # components, one broadcast join of the (tiny) dropped set — raw
    # vectors shuffle exactly once.  The blocking rides the TWO-LEVEL
    # quantizer (r17): with the corpus-relative cell count
    # (n_cells = max(16, ceil(corpus/128))) a FLAT assignment pays
    # n x n_cells cosine folds = O(n^2/128) compute — the r17 sf10
    # probe measured exactly that shape, 147.8 s / d2 24.3x for 10x
    # data while every other probed query stayed sublinear; coarse ->
    # fine assignment is ~2*n*sqrt(n_cells) folds (measured post-fix:
    # sf1 8.1 s, sf10 36.9 s — d2 4.6x, back under linear).  The
    # oracle reproduces both ranking levels (same CTEs as
    # dedup_embedding_cosine_ivf2's).
    from datafusion_bigtable_spark.operators.dedup import embedding_dup_pairs_ivf
    from datafusion_bigtable_spark.operators.graph import connected_components
    from datafusion_bigtable_spark.operators.similarity import (
        build_ivf_index_two_level,
        materialize_owned,
    )

    e = load(spark, sf_dir, "embeddings")
    # corpus size from the parquet footer (r18) — see dedup_embedding_cosine_ivf
    n = table_num_rows(sf_dir, "embeddings")
    idx = build_ivf_index_two_level(e, n_cells=max(16, -(-n // 128)))
    pairs = materialize_owned(
        embedding_dup_pairs_ivf(
            e, threshold=0.4, index=idx, pair_salt=_pair_salt_for(n)
        ),
        idx,
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    return e.select("vec_id").join(
        F.broadcast(comp), F.col("vec_id") == F.col("id"), "left"
    ).select(
        "vec_id",
        (F.col("id").isNull() | (F.col("component") == F.col("vec_id"))).alias("keep"),
    )


def _sim_query_pred():
    """The ANN-family query set: every 100th vector, ABSOLUTE-bounded.

    The bound is the scale contract (VERDICT r8 #1): a pure modulus
    predicate makes the query set grow WITH the corpus, so any
    brute-force-anchored scorer (queries × corpus pairs) is quadratic in
    corpus size by construction — sf1 measured 23-45× wall for 10× data.
    `vec_id < 2000` caps the set at 20 queries forever; at the tested
    scale factors (max vec_id: 499/499/1999 at sf0.001/0.01/0.1) it
    changes nothing, so every oracle hash is preserved, while sf1+ cost
    becomes linear in corpus.  Mirrored verbatim in each oracle's
    `AND q.vec_id < 2000`.  MEASURED at sf1 (r10, BENCH_SF1.json):
    brute-force 28 s -> 3.1 s, PQ-ADC 37 s -> 4.0 s, trained recall
    127 s -> 15.6 s — the predicted linearity, confirmed.
    """
    return (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)


@query(
    "sim_topk_bruteforce",
    """
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS score
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id % 100 = 0 AND q.vec_id < 2000)
    SELECT query_id, neighbor_id, score, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= 5
    """,
)
def sim_topk_q(spark, sf_dir):
    from datafusion_bigtable_spark.operators.similarity import topk_bruteforce

    e = load(spark, sf_dir, "embeddings")
    return topk_bruteforce(e, _sim_query_pred(), k=5)


@query(
    "sim_topk_lsh_bucketed",
    """
    WITH bucketed AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1]  >= 0 THEN '1' ELSE '0' END) ||
             (CASE WHEN embedding[4]  >= 0 THEN '1' ELSE '0' END) ||
             (CASE WHEN embedding[8]  >= 0 THEN '1' ELSE '0' END) ||
             (CASE WHEN embedding[12] >= 0 THEN '1' ELSE '0' END) AS bucket
      FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS score
      FROM bucketed q JOIN bucketed c
        ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id % 100 = 0 AND q.vec_id < 2000)
    SELECT query_id, neighbor_id, score, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= 3
    """,
)
def sim_lsh_q(spark, sf_dir):
    from datafusion_bigtable_spark.operators.similarity import topk_lsh

    e = load(spark, sf_dir, "embeddings")
    return topk_lsh(e, _sim_query_pred(), dims=(0, 3, 7, 11), k=3)


@query(
    "sim_topk_ivf_cells",
    """
    WITH seeds AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS sv
      FROM embeddings WHERE vec_id < 16),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, s.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.sv) DESC,
                          s.cell) AS rn
        FROM embeddings e CROSS JOIN seeds s) t
      WHERE rn = 1),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS score
      FROM embeddings q
        JOIN assign qa ON qa.vec_id = q.vec_id
        JOIN assign ca ON ca.cell = qa.cell AND ca.vec_id <> q.vec_id
        JOIN embeddings c ON c.vec_id = ca.vec_id
      WHERE q.vec_id % 100 = 0 AND q.vec_id < 2000)
    SELECT query_id, neighbor_id, score, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= 3
    """,
)
def sim_ivf_q(spark, sf_dir):
    # IVF twin of the LSH bucketing (the two classic ANN families): argmax-
    # cosine cell assignment against a broadcast codebook, then nprobe=1
    # search inside the query's cell.  Deterministic seed codebook keeps it
    # oracle-checkable; DuckDB's list_cosine_similarity on DOUBLE[] bit-
    # matches the Catalyst zip_with/aggregate fold.
    from datafusion_bigtable_spark.operators.similarity import topk_ivf

    e = load(spark, sf_dir, "embeddings")
    return topk_ivf(e, _sim_query_pred(), n_cells=16, k=3)


@query(
    "sim_topk_ivf_nprobe",
    """
    WITH seeds AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS sv
      FROM embeddings WHERE vec_id < 16),
    ranked AS (
      SELECT e.vec_id, s.cell,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.sv) DESC,
                        s.cell) AS rn
      FROM embeddings e CROSS JOIN seeds s),
    scored AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS score
      FROM embeddings q
        JOIN ranked qa ON qa.vec_id = q.vec_id AND qa.rn <= 4
        JOIN ranked ca ON ca.cell = qa.cell AND ca.rn = 1 AND ca.vec_id <> q.vec_id
        JOIN embeddings c ON c.vec_id = ca.vec_id
      WHERE q.vec_id % 100 = 0 AND q.vec_id < 2000)
    SELECT query_id, neighbor_id, score, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= 3
    """,
)
def sim_ivf_nprobe_q(spark, sf_dir):
    # The IVF recall dial, driver-verified: queries probe their top-4
    # cells (corpus stays in its top-1), recovering neighbors that
    # nprobe=1 misses at ~4× the scoring cost of one cell — still
    # ~n_cells/nprobe cheaper than brute force.
    from datafusion_bigtable_spark.operators.similarity import topk_ivf

    e = load(spark, sf_dir, "embeddings")
    return topk_ivf(e, _sim_query_pred(), n_cells=16, k=3, nprobe=4)


@query(
    "sim_trained_codebook_recall",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           TRUE AS ivf_trained_ge_seed, TRUE AS ivf_floor,
           TRUE AS pq_trained_ge_seed, TRUE AS pq_floor
    FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 2000
    """,
)
def sim_trained_codebook_recall_q(spark, sf_dir):
    # Trained-codebook quality IN THE ROTATION (r7, VERDICT #6): exercises
    # train_ivf_codebook and train_pq_codebooks (operators/similarity.py —
    # Lloyd refinement over a deterministic md5-ordered sample, broadcast
    # back) end-to-end and emits a CONTRACT row the DuckDB oracle states
    # declaratively: trained recall@10 must not lose to the seed codebook
    # and must clear an absolute floor (measured seed/trained at
    # sf0.001/0.01/0.1: IVF nprobe=4 .52/.52, .46/.66, .505/.505; PQ m=16
    # .40/.40, .42/.48, .275/.32 — floors set ~0.05+ under the minima).
    # Training is iterative (not SQL-expressible), but the recall
    # INVARIANT is — so this hash-checks rather than taking a rows-only
    # pass.  All collects are bounded: 2048-row training samples,
    # queries×k result rows.
    from datafusion_bigtable_spark.operators import similarity as S

    emb = load(spark, sf_dir, "embeddings")
    pred = _sim_query_pred()
    k = 10

    # The five searches (brute-force truth + 4 recall candidates) are
    # INDEPENDENT jobs — overlap their collect()s from a small thread
    # pool (guide §2.6) so each search's straggler tail back-fills with
    # the next search's tasks instead of idling 31 cores; every branch
    # is deterministic, so concurrency changes wall-clock only (r18 —
    # was 5 sequential collect()s).
    from concurrent.futures import ThreadPoolExecutor

    def _pairs(df) -> dict:
        got: dict = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return got

    def _truth():
        return _pairs(S.topk_bruteforce(emb, pred, k=k))

    def _ivf_seed():
        return _pairs(S.topk_ivf(emb, pred, n_cells=16, k=k, nprobe=4))

    def _ivf_tr():
        return _pairs(
            S.topk_ivf(
                emb, pred, n_cells=16, k=k, nprobe=4,
                codebook=S.train_ivf_codebook(emb, n_cells=16, iters=3),
            )
        )

    def _pq_seed():
        return _pairs(S.topk_pq(emb, pred, k=k, m=16))

    def _pq_tr():
        return _pairs(
            S.topk_pq(
                emb, pred, k=k, m=16, codebooks=S.train_pq_codebooks(emb, m=16, iters=3)
            )
        )

    with ThreadPoolExecutor(max_workers=5) as pool:
        futs = [pool.submit(f) for f in (_truth, _ivf_seed, _ivf_tr, _pq_seed, _pq_tr)]
        truth, got_ivf_seed, got_ivf_tr, got_pq_seed, got_pq_tr = [
            f.result() for f in futs
        ]

    def recall(got: dict) -> float:
        denom = sum(len(t) for t in truth.values())
        return sum(len(got.get(q, set()) & t) for q, t in truth.items()) / denom

    ivf_seed, ivf_tr = recall(got_ivf_seed), recall(got_ivf_tr)
    pq_seed, pq_tr = recall(got_pq_seed), recall(got_pq_tr)
    row = (
        len(truth),
        bool(ivf_tr >= ivf_seed - 1e-9),
        bool(ivf_tr >= 0.40),
        bool(pq_tr >= pq_seed - 1e-9),
        bool(pq_tr >= 0.25),
    )
    return spark.createDataFrame(
        [row],
        "n_queries long, ivf_trained_ge_seed boolean, ivf_floor boolean, "
        "pq_trained_ge_seed boolean, pq_floor boolean",
    )


@query(
    "embedding_quantize_int8",
    """
    WITH dv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127.0 AS scale
          FROM dv)
    SELECT vec_id, ROUND(scale, 6) AS scale,
           CAST(list_sum(list_transform(v, x -> ROUND(x / scale))) AS BIGINT) AS q_sum
    FROM s
    """,
)
def embedding_quantize_q(spark, sf_dir):
    # Symmetric per-vector int8 quantization — the standard storage/compute
    # shrink before ANN at scale (4× smaller vectors, SIMD-int dot
    # products).  scale = max|v|/127; codes = round(v/scale).  Pure
    # Catalyst array expressions: zero shuffles, zero UDFs — the whole op
    # fuses into the scan projection.  The oracle reduces the code vector
    # to its sum (the driver hash compares scalars); scale is checked
    # directly.  Catalyst inlines a `scale` reference inside an element
    # lambda wherever it appears (CollapseProject), re-running the
    # max-fold PER ELEMENT — O(d²)/row, measured 4.6 s at sf1 (the r15
    # sf1 gate's one flag).  `array_repeat(scale, d)` evaluates scale
    # ONCE per row (array_repeat's argument is a row-scope expression,
    # not an element lambda) and zip_with hands each element its copy:
    # O(d)/row, 0.78 s at sf1, values bit-identical.
    e = load(spark, sf_dir, "embeddings")
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(dv, lambda x: F.abs(x)))
    scale = F.greatest(mx, F.lit(1e-12)) / F.lit(127.0)
    srep = F.array_repeat(scale, F.size(dv))
    q_sum = F.aggregate(
        F.zip_with(dv, srep, lambda x, s: F.round(x / s).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id", F.round(scale, 6).alias("scale"), q_sum.alias("q_sum")
    )


@query(
    "dedup_keep_canonical",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    mh AS (
      SELECT id, s.seed, MIN(md5(CAST(s.seed AS VARCHAR) || '|' || shingle)) AS minhash
      FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) s
      GROUP BY id, s.seed),
    banded AS (
      SELECT id, CAST(seed // 2 AS INT) AS band,
             string_agg(minhash, ',' ORDER BY minhash) AS band_sig
      FROM mh GROUP BY id, seed // 2),
    pairs AS (
      SELECT DISTINCT a.id AS pa, b.id AS pb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id),
    edges AS (SELECT pa AS a, pb AS b FROM pairs UNION SELECT pb, pa FROM pairs),
    reach AS (
      SELECT a AS id, b AS r FROM edges
      UNION
      SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a)
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (
      SELECT id FROM (SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id)
      WHERE id != component)
    """,
)
def dedup_keep_canonical_q(spark, sf_dir):
    # The dedup pipeline's actual OUTPUT: the corpus with every duplicate
    # cluster reduced to its canonical (min-id) member.  Composition of
    # the shipped operators — LSH candidate pairs → connected components →
    # anti-join the non-canonical members — exactly the keep-list a 100 TB
    # curation run materializes.  The anti-join broadcasts the (tiny)
    # dup-member list; the corpus never reshuffles.
    from datafusion_bigtable_spark.operators.dedup import lsh_candidate_pairs
    from datafusion_bigtable_spark.operators.graph import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, bands=4, rows_per_band=2, k=3)
    comp = connected_components(pairs)
    dups = comp.filter(F.col("id") != F.col("component")).select(F.col("id").alias("doc_id"))
    return docs.join(F.broadcast(dups), "doc_id", "left_anti").select("doc_id")


@query(
    "events_moving_window_range",
    """
    SELECT user_id, event_id,
           ROUND(SUM(value) OVER w, 2) AS moving_sum,
           COUNT(*) OVER w AS n_window
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW)
    """,
)
def events_moving_range_q(spark, sf_dir):
    # RANGE frame keyed by TIME (not row count) — the window-frame shape
    # rows-based frames cannot express: "all events within the trailing
    # day".  SQL form because DataFrame rangeBetween only takes numeric
    # offsets.  SUM+COUNT instead of AVG keeps the compared values on the
    # exact cent grid (a cross-engine AVG would divide on doubles and
    # round off-grid).  One shuffle on user_id; WindowExec's range-bound
    # sliding frame is O(n) per partition.
    load(spark, sf_dir, "events").createOrReplaceTempView("dbs_events_mr")
    return spark.sql(
        """
        SELECT user_id, event_id,
               ROUND(SUM(value) OVER w, 2) AS moving_sum,
               COUNT(*) OVER w AS n_window
        FROM dbs_events_mr
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW)
        """
    )


@query(
    "sim_topk_pq_adc",
    """
    WITH dv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sub AS (
      SELECT vec_id, j, v[j*8+1 : j*8+8] AS s
      FROM dv, (SELECT unnest(generate_series(0, 7)) AS j) jj),
    cents AS (
      SELECT j, vec_id AS code, s AS cent, list_inner_product(s, s) AS cc
      FROM sub WHERE vec_id < 16),
    codes AS (
      SELECT vec_id, j, code FROM (
        SELECT d.vec_id, d.j, c.code,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.j
                                  ORDER BY c.cc - 2 * list_inner_product(d.s, c.cent), c.code) AS rn
        FROM sub d JOIN cents c ON c.j = d.j) t
      WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, j, s AS qs FROM sub WHERE vec_id % 100 = 0 AND vec_id < 2000),
    scored AS (
      SELECT q.query_id, d.vec_id AS neighbor_id,
             ROUND(SUM(list_inner_product(q.qs, c.cent)), 6) AS score
      FROM codes d JOIN cents c ON c.j = d.j AND c.code = d.code
      JOIN q ON q.j = d.j
      WHERE q.query_id != d.vec_id
      GROUP BY q.query_id, d.vec_id)
    SELECT query_id, neighbor_id, score, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= 3
    """,
)
def sim_topk_pq_q(spark, sf_dir):
    # Product-quantization ANN (asymmetric distance computation) — the
    # third classic ANN family beside LSH and IVF: the corpus is scored
    # through 8 centroid ids per vector (64 floats → 8 codes), so the
    # scorer touches m tiny inner products per pair and the raw corpus
    # never moves.  Both engines compute the argmin with the identical
    # ‖c‖² − 2·dot(s, c) fold, so code assignment is bit-deterministic.
    from datafusion_bigtable_spark.operators.similarity import topk_pq

    e = load(spark, sf_dir, "embeddings")
    return topk_pq(e, _sim_query_pred(), m=8, k_c=16, k=3)


@query(
    "sim_topk_ivfpq",
    """
    WITH seeds AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS sv
      FROM embeddings WHERE vec_id < 16),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, s.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.sv) DESC,
                          s.cell) AS rn
        FROM embeddings e CROSS JOIN seeds s) t
      WHERE rn = 1),
    dv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sub AS (
      SELECT vec_id, j, v[j*8+1 : j*8+8] AS s
      FROM dv, (SELECT unnest(generate_series(0, 7)) AS j) jj),
    cents AS (
      SELECT j, vec_id AS code, s AS cent, list_inner_product(s, s) AS cc
      FROM sub WHERE vec_id < 16),
    codes AS (
      SELECT vec_id, j, code FROM (
        SELECT d.vec_id, d.j, c.code,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.j
                                  ORDER BY c.cc - 2 * list_inner_product(d.s, c.cent), c.code) AS rn
        FROM sub d JOIN cents c ON c.j = d.j) t
      WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, j, s AS qs FROM sub WHERE vec_id % 100 = 0 AND vec_id < 2000),
    scored AS (
      SELECT q.query_id, d.vec_id AS neighbor_id,
             ROUND(SUM(list_inner_product(q.qs, c.cent)), 6) AS score
      FROM codes d
      JOIN assign ca ON ca.vec_id = d.vec_id
      JOIN q ON q.j = d.j AND q.query_id <> d.vec_id
      JOIN assign qa ON qa.vec_id = q.query_id AND qa.cell = ca.cell
      JOIN cents c ON c.j = d.j AND c.code = d.code
      GROUP BY q.query_id, d.vec_id)
    SELECT query_id, neighbor_id, score, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= 3
    """,
)
def sim_ivfpq_q(spark, sf_dir):
    # The composed billion-vector shape: IVF cells restrict WHICH pairs
    # score (~n_cells× fewer), PQ codes decide HOW (m centroid lookups per
    # pair, raw vectors never reach the scorer).  Composition is by vector
    # id only — the strongest evidence the ANN operators are genuinely
    # modular.
    from datafusion_bigtable_spark.operators.similarity import topk_ivfpq

    e = load(spark, sf_dir, "embeddings")
    return topk_ivfpq(e, _sim_query_pred(), n_cells=16, m=8, k_c=16, k=3)


def _lang_sql_score(lang: str) -> str:
    from datafusion_bigtable_spark.functions.text import stopword_pattern

    # DuckDB len(regexp_extract_all(...)) == Spark size(regexp_extract_all(...))
    return f"len(regexp_extract_all(lower(text), '{stopword_pattern(lang)}', 1))"


def _langid_oracle() -> str:
    from datafusion_bigtable_spark.functions.text import LANG_ORDER

    scores = {lang: _lang_sql_score(lang) for lang in LANG_ORDER}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    case = "CASE "
    for lang in LANG_ORDER:  # first match wins ties, same priority as Spark side
        case += f"WHEN {scores[lang]} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
    SELECT doc_id, CASE WHEN {best} > 0 THEN {case} ELSE 'und' END AS pred_lang
    FROM documents
    """


@query("text_langid", None)  # placeholder; real SQL bound below
def text_langid_q(spark, sf_dir):
    from datafusion_bigtable_spark.functions.text import langid

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", langid(F.col("text")).alias("pred_lang"))


REGISTRY["text_langid"] = QuerySpec(text_langid_q, _langid_oracle())


def _curation_oracle() -> str:
    from datafusion_bigtable_spark.functions.text import LANG_ORDER

    scores = {lang: _lang_sql_score(lang) for lang in LANG_ORDER}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    und = f"({best} = 0)"
    return f"""
    SELECT doc_id,
           CASE WHEN length(text) < 120 THEN 'too_short'
                WHEN length(text) > 10000 THEN 'too_long'
                WHEN len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) < 20
                     THEN 'too_few_tokens'
                WHEN CAST(len(regexp_extract_all(text, '([,.;:!?])', 1)) AS DOUBLE)
                     / greatest(length(text), 1) >= 0.1 THEN 'punct_soup'
                WHEN {und} THEN 'lang_unknown'
                ELSE 'keep' END AS reason,
           CASE WHEN length(text) >= 120 AND length(text) <= 10000
                AND len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) >= 20
                AND CAST(len(regexp_extract_all(text, '([,.;:!?])', 1)) AS DOUBLE)
                    / greatest(length(text), 1) < 0.1
                AND NOT {und}
                THEN TRUE ELSE FALSE END AS keep
    FROM documents
    """


@query("text_curation_filter", None)  # real SQL bound below
def text_curation_q(spark, sf_dir):
    # The curation DECISION operator: compose the text signals into a
    # keep/drop verdict + first-failing reason — the gate every training-
    # data pipeline runs between raw crawl and tokenizer.  One shared
    # Catalyst expression (functions.text.curation_reason — also the
    # streaming twin's gate) fused into the scan; per-doc decisions are
    # exact integer/ratio comparisons so both engines agree bit-for-bit.
    from datafusion_bigtable_spark.functions.text import curation_reason

    d = load(spark, sf_dir, "documents")
    reason = curation_reason(F.col("text"))
    return d.select("doc_id", reason.alias("reason"), (reason == "keep").alias("keep"))


REGISTRY["text_curation_filter"] = QuerySpec(text_curation_q, _curation_oracle())


@query("text_curation_sql", None)  # real SQL bound below
def text_curation_sql_q(spark, sf_dir):
    # The same gate through the SQL SURFACE (functions/sqlapi.py): the
    # reference's user model is register-then-SQL, so the curation
    # toolkit is exposed as session-scoped SQL scalar functions and this
    # query is pure SQL text.  SQL functions macro-expand at analysis —
    # the executed plan is the identical codegen'd expression as
    # text_curation_filter's Column form (pinned in tests/test_sqlapi.py:
    # no Python eval node, same verdicts per function).  Third surface,
    # same oracle: batch Column / streaming / SQL cannot drift apart.
    from datafusion_bigtable_spark.functions.sqlapi import register_sql_functions

    register_sql_functions(spark)
    load(spark, sf_dir, "documents").createOrReplaceTempView("dbs_sqlapi_documents")
    return spark.sql(
        """
        WITH r AS (SELECT doc_id, dbs_curation_reason(text) AS reason
                   FROM dbs_sqlapi_documents)
        SELECT doc_id, reason, reason = 'keep' AS keep FROM r
        """
    )


REGISTRY["text_curation_sql"] = QuerySpec(text_curation_sql_q, _curation_oracle())


@query("streaming_curation_filter", None)  # real SQL bound below
def streaming_curation_q(spark, sf_dir):
    # The curation gate ON THE STREAM — the first stage a crawl feed
    # wants before anything lands in the corpus store.  Stateless (no
    # watermark, no state store, append mode), so the streamed verdicts
    # equal the batch gate exactly: the oracle IS text_curation_filter's
    # SQL.  Scale shape: a pure map over the firehose; throughput is
    # scan-bound, state is zero.
    from datafusion_bigtable_spark.streaming import run_events_stream_to_memory

    name = "dbs_stream_curation_" + str(abs(hash(sf_dir)) % 10**8)
    return run_events_stream_to_memory(spark, sf_dir, agg="curation", query_name=name)


REGISTRY["streaming_curation_filter"] = QuerySpec(streaming_curation_q, _curation_oracle())


def _pipeline_oracle() -> str:
    from datafusion_bigtable_spark.functions.text import LANG_ORDER

    scores = {lang: _lang_sql_score(lang) for lang in LANG_ORDER}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    kept_shingles = _SHINGLES_CTE.replace("FROM documents", "FROM kept")
    return f"""
    WITH RECURSIVE kept AS (
      SELECT doc_id, text, source FROM documents
      WHERE length(text) >= 120 AND length(text) <= 10000
        AND len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) >= 20
        AND CAST(len(regexp_extract_all(text, '([,.;:!?])', 1)) AS DOUBLE)
            / greatest(length(text), 1) < 0.1
        AND NOT ({best} = 0)),
    {kept_shingles},
    mh AS (
      SELECT id, s.seed, MIN(md5(CAST(s.seed AS VARCHAR) || '|' || shingle)) AS minhash
      FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) s
      GROUP BY id, s.seed),
    banded AS (
      SELECT id, CAST(seed // 2 AS INT) AS band,
             string_agg(minhash, ',' ORDER BY minhash) AS band_sig
      FROM mh GROUP BY id, seed // 2),
    pairs AS (
      SELECT DISTINCT a.id AS pa, b.id AS pb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id),
    edges AS (SELECT pa AS a, pb AS b FROM pairs UNION SELECT pb, pa FROM pairs),
    reach AS (
      SELECT a AS id, b AS r FROM edges
      UNION
      SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
    dups AS (
      SELECT id FROM (SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id)
      WHERE id != component)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'), x -> x != ''))) AS BIGINT)
             AS total_ws_tokens
    FROM kept WHERE doc_id NOT IN (SELECT id FROM dups)
    GROUP BY source
    """


@query("pipeline_curated_corpus", None)  # real SQL bound below
def pipeline_curated_q(spark, sf_dir):
    # The capstone composition — the actual pre-training data flow, end to
    # end in ONE declarative plan: raw docs → curation gate (quality/
    # langid signals, fused into the scan) → near-dup removal (LSH
    # blocking → connected components → broadcast anti-join of
    # non-canonical members, computed on the KEPT subset only) → per-
    # source corpus accounting (docs + whitespace tokens, the numbers a
    # mixing recipe consumes).  Every stage is a shipped operator; they
    # chain on doc_id alone.  At 100 TB: the gate prunes before any
    # shuffle, dedup touches only survivors, the final agg is one shuffle
    # on source.
    from datafusion_bigtable_spark.functions import text as X
    from datafusion_bigtable_spark.operators.dedup import lsh_candidate_pairs
    from datafusion_bigtable_spark.operators.graph import connected_components

    d = load(spark, sf_dir, "documents")
    chars = F.length("text")
    tokens = X.bpe_ish_token_count(F.col("text"))
    punct_ratio = F.size(F.regexp_extract_all("text", F.lit(r"([,.;:!?])"), 1)).cast(
        "double"
    ) / F.greatest(chars, F.lit(1))
    keep = (
        (chars >= 120)
        & (chars <= 10000)
        & (tokens >= 20)
        & (punct_ratio < 0.1)
        & (X.langid(F.col("text")) != "und")
    )
    kept = d.filter(keep).select("doc_id", "text", "source")
    # `kept` feeds TWO branches (the LSH pair pipeline and the final
    # per-source accounting), and the curation predicate above is the
    # expensive part (regex token counts + langid over full text) — an
    # unmaterialized plan re-runs it once per branch.  Same discipline
    # and mechanism as the tf table inside corpus_term_stats: a LAZY
    # localCheckpoint, materialized by whichever branch executes first
    # (interleaved A/B at sf0.1: 3.76 → 2.80 s min-of-3; an eager
    # persist measured the same, but has no owner to unpersist in a
    # lazily-returned query plan).
    kept = kept.localCheckpoint(eager=False)

    pairs = lsh_candidate_pairs(kept, bands=4, rows_per_band=2, k=3)
    comp = connected_components(pairs)
    dups = comp.filter(F.col("id") != F.col("component")).select(F.col("id").alias("doc_id"))
    final = kept.join(F.broadcast(dups), "doc_id", "left_anti")
    return final.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(X.whitespace_token_count(F.col("text"))).cast("bigint").alias("total_ws_tokens"),
    )


REGISTRY["pipeline_curated_corpus"] = QuerySpec(pipeline_curated_q, _pipeline_oracle())


@query(
    "sample_class_balanced",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents) t
    WHERE rk <= 40
    """,
)
def sample_balanced_q(spark, sf_dir):
    # Class-balanced downsampling: cap each class at N docs, chosen by a
    # deterministic content-independent hash order (md5 — the one hash
    # both engines share) so the sample is reproducible across runs and
    # partitionings.  One shuffle on the class key; the window stays
    # partition-local after it.
    d = load(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 40)
        .select("doc_id", "lang")
    )


@query(
    "corpus_mixing_weights",
    """
    WITH per AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    tot AS (SELECT SUM(n) AS total, COUNT(*) AS n_sources FROM per)
    SELECT source, n,
           ROUND((CAST(total AS DOUBLE) / n_sources) / n, 6) AS weight
    FROM per, tot
    """,
)
def mixing_weights_q(spark, sf_dir):
    # Domain-mixing weights: per-source resampling factor that equalizes
    # source shares (weight = uniform-target share / actual share) — the
    # knob for "mix N% web, M% code" training recipes.  Global totals come
    # from an empty window over the SAME aggregate: one scan, one shuffle.
    d = load(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count("*").alias("n"))
    total = F.sum("n").over(W.partitionBy())
    n_sources = F.count("*").over(W.partitionBy())
    return per.select(
        "source",
        "n",
        F.round((total.cast("double") / n_sources) / F.col("n"), 6).alias("weight"),
    )


@query(
    "corpus_mixing_alpha",
    """
    WITH per AS (
      SELECT source, COUNT(*) AS n,
             CAST(SUM(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                      x -> x != ''))) AS BIGINT) AS toks
      FROM documents GROUP BY source),
    tot AS (SELECT SUM(toks) AS t FROM per),
    raw AS (
      SELECT source, n, toks, toks / CAST(t AS DOUBLE) AS p,
             POWER(toks / CAST(t AS DOUBLE), 0.3) AS qraw
      FROM per, tot),
    z AS (SELECT SUM(qraw) AS z FROM raw)
    SELECT source, n, toks,
           ROUND(p, 4) AS p_share,
           ROUND(qraw / z, 4) AS q_share,
           ROUND((qraw / z) / p, 4) AS resample_factor
    FROM raw, z
    """,
)
def mixing_alpha_q(spark, sf_dir):
    # Temperature-sampled mixing (alpha sampling, Conneau & Lample 2019 /
    # mT5 alpha=0.3): q_s proportional to p_s^alpha flattens the source
    # distribution — low-resource sources upsample, head sources
    # downsample — without the full equalization corpus_mixing_weights
    # applies.  TOKEN-weighted (p from per-source token mass, the unit a
    # sampler actually draws), not doc-counted.  One scan + one tiny
    # source-key shuffle; the normalizations are empty-window aggregates
    # over the |sources|-row table.  POWER is libm-backed on both
    # engines, so derived columns round at 4 (the ln-based perplexity
    # precedent), not 6.
    from datafusion_bigtable_spark.functions import text as X

    d = load(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(F.size(X.words(F.col("text")))).alias("toks"),
    )
    t = F.sum("toks").over(W.partitionBy())
    with_p = per.withColumn("p", F.col("toks").cast("double") / t).withColumn(
        "qraw", F.pow(F.col("p"), F.lit(0.3))
    )
    z = F.sum("qraw").over(W.partitionBy())
    return with_p.select(
        "source",
        "n",
        "toks",
        F.round("p", 4).alias("p_share"),
        F.round(F.col("qraw") / z, 4).alias("q_share"),
        F.round((F.col("qraw") / z) / F.col("p"), 4).alias("resample_factor"),
    )


@query(
    "text_quality",
    """
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS w
      FROM documents)
    SELECT doc_id,
           CAST(length(text) AS INT) AS chars,
           CAST(len(w) AS INT)       AS words,
           ROUND(CAST(len(regexp_extract_all(text, '([,.;:!?])', 1)) AS DOUBLE)
                 / greatest(length(text), 1), 4) AS punct_ratio,
           ROUND(CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|a)\\b', 1)) AS DOUBLE)
                 / greatest(len(w), 1), 4) AS stop_ratio,
           ROUND(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                 / greatest(len(w), 1), 4) AS avg_wlen
    FROM t
    """,
)
def text_quality_q(spark, sf_dir):
    from datafusion_bigtable_spark.functions import text as X
    from datafusion_bigtable_spark.operators.partitioning import widen_if_narrow

    # r13: regex-heavy per-row expressions on a 1-2 partition sf1 scan ran
    # on 1 of 32 cores (sf1 flagged 3.2 s); widen first, no-op on real
    # wide tables.
    d = widen_if_narrow(load(spark, sf_dir, "documents"), "doc_id")
    w = X.words(F.col("text"))
    punct = F.size(F.regexp_extract_all("text", F.lit(r"([,.;:!?])"), 1))
    stop = X.lang_hits(F.col("text"), "en")
    wl_sum = F.aggregate(F.transform(w, F.length), F.lit(0), lambda a, x: a + x)
    return d.select(
        "doc_id",
        F.length("text").cast("int").alias("chars"),
        F.size(w).cast("int").alias("words"),
        F.round(punct.cast("double") / F.greatest(F.length("text"), F.lit(1)), 4).alias("punct_ratio"),
        F.round(stop.cast("double") / F.greatest(F.size(w), F.lit(1)), 4).alias("stop_ratio"),
        F.round(wl_sum.cast("double") / F.greatest(F.size(w), F.lit(1)), 4).alias("avg_wlen"),
    )


@query(
    "text_token_counts",
    """
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS INT) AS bpe_tokens
    FROM documents
    """,
)
def text_tokens_q(spark, sf_dir):
    from datafusion_bigtable_spark.functions import text as X

    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X.whitespace_token_count(F.col("text")).cast("int").alias("ws_tokens"),
        X.bpe_ish_token_count(F.col("text")).cast("int").alias("bpe_tokens"),
    )


@query(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                                   ' +', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def text_fingerprint_q(spark, sf_dir):
    from datafusion_bigtable_spark.functions.text import fingerprint

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


@query(
    "decontaminate_vs_benchmark",
    f"""
    WITH {_SHINGLES_CTE},
    b AS (SELECT DISTINCT shingle FROM sh WHERE id % 97 = 0),
    c AS (SELECT * FROM sh WHERE id % 97 != 0),
    scored AS (
      SELECT c.id, COUNT(*) AS n_shingles,
             COUNT(b.shingle) AS n_hit
      FROM c LEFT JOIN b ON c.shingle = b.shingle
      GROUP BY c.id)
    SELECT id AS doc_id, n_shingles,
           ROUND(n_hit * 1.0 / n_shingles, 4) AS overlap,
           n_hit * 1.0 / n_shingles >= 0.5 AS contaminated
    FROM scored
    """,
)
def decontaminate_q(spark, sf_dir):
    # Training-set decontamination (operators/dedup.py::decontaminate):
    # benchmark = the doc_id % 97 == 0 slice standing in for an eval set;
    # its distinct shingles broadcast, the corpus shuffles once on doc id.
    # Overlap-vs-benchmark (not pairwise Jaccard) is the contamination
    # metric — an eval question contained in a long doc must flag even
    # though the pair's Jaccard is tiny.
    from datafusion_bigtable_spark.operators.dedup import decontaminate

    d = load(spark, sf_dir, "documents")
    out = decontaminate(
        d.filter(F.col("doc_id") % 97 != 0),
        d.filter(F.col("doc_id") % 97 == 0),
        k=3,
        threshold=0.5,
    )
    return out.select(F.col("id").alias("doc_id"), "n_shingles", "overlap", "contaminated")


@query(
    "decontaminate_bloom",
    f"""
    WITH {_SHINGLES_CTE},
    b AS (SELECT DISTINCT shingle FROM sh WHERE id % 97 = 0),
    c AS (SELECT * FROM sh WHERE id % 97 != 0),
    bits AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5('bf' || i || '|' || shingle), 1, 8)) AS INT64) % 65536 AS pos
      FROM b, LATERAL (SELECT unnest([0, 1, 2]) AS i) t),
    probes AS (
      SELECT c.id, c.shingle,
             CAST(('0x' || substr(md5('bf' || i || '|' || c.shingle), 1, 8)) AS INT64) % 65536 AS pos
      FROM c, LATERAL (SELECT unnest([0, 1, 2]) AS i) t),
    mem AS (
      SELECT id, shingle, COUNT(bits.pos) = 3 AS in_bloom
      FROM probes LEFT JOIN bits USING (pos)
      GROUP BY id, shingle),
    scored AS (
      SELECT id, COUNT(*) AS n_shingles,
             CAST(SUM(CAST(in_bloom AS INT)) AS BIGINT) AS n_hit
      FROM mem GROUP BY id)
    SELECT id AS doc_id, n_shingles, n_hit,
           ROUND(n_hit * 1.0 / n_shingles, 4) AS bloom_overlap,
           n_hit * 1.0 / n_shingles >= 0.5 AS flagged
    FROM scored
    """,
)
def decontaminate_bloom_q(spark, sf_dir):
    # Bloom-screened decontamination (operators/bloom.py): same benchmark
    # slice and shingling as decontaminate_vs_benchmark, but membership is
    # tested against a FIXED-SIZE bit set (m=65536 here, deliberately small
    # so false positives actually occur at the driver's sf0.01 and the
    # oracle hash-verifies them bit-for-bit — the probes are portable
    # md5-derived positions both engines compute identically).  At 100 TB
    # the broadcast payload is bounded at m ints regardless of benchmark
    # size; `flagged` is a guaranteed superset of the exact `contaminated`
    # set (no false negatives — pinned in tests/test_bloom.py).
    from datafusion_bigtable_spark.operators.bloom import decontaminate_bloom

    d = load(spark, sf_dir, "documents")
    out = decontaminate_bloom(
        d.filter(F.col("doc_id") % 97 != 0),
        d.filter(F.col("doc_id") % 97 == 0),
        k=3,
        threshold=0.5,
        m=65536,
        k_hashes=3,
    )
    return out.select(F.col("id").alias("doc_id"), "n_shingles", "n_hit", "bloom_overlap", "flagged")


@query(
    "text_chunk_documents",
    """
    SELECT doc_id,
           CAST(i // 80 AS BIGINT) AS chunk_idx,
           CAST(LEAST(120, length(text) - i) AS BIGINT) AS chunk_len,
           md5(substring(text, i + 1, 120)) AS chunk_md5
    FROM documents, LATERAL (
      SELECT unnest(generate_series(0, length(text) - 1, 80)) AS i) t
    WHERE length(text) > 0
    """,
)
def text_chunk_documents_q(spark, sf_dir):
    # Document chunking for context-window-bounded training: fixed 120-char
    # chunks on an 80-char stride (40 overlap), generated as a pure
    # Catalyst sequence+posexplode — per-doc fan-out is length/stride, no
    # shuffle at all (narrow transform of the scan), which is the shape
    # that matters when chunking 100 TB into training windows.  chunk_md5
    # hash-verifies the actual chunk CONTENT against the oracle, not just
    # the offsets.
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    offs = F.sequence(F.lit(0), F.length("text") - 1, F.lit(80))
    return d.select(
        "doc_id", F.explode(offs).alias("i"), F.col("text")
    ).select(
        "doc_id",
        (F.col("i") / 80).cast("long").alias("chunk_idx"),
        F.least(F.lit(120), F.length("text") - F.col("i")).cast("long").alias("chunk_len"),
        F.md5(F.expr("substring(text, i + 1, 120)")).alias("chunk_md5"),
    )


@query(
    "corpus_pack_sequences",
    """
    WITH t AS (
      SELECT source, doc_id,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS tokens
      FROM documents),
    c AS (
      SELECT source, doc_id, tokens,
             SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
      FROM t)
    SELECT source, CAST(FLOOR((cum - tokens) / 256.0) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS pack_tokens
    FROM c GROUP BY source, pack_id
    """,
)
def corpus_pack_sequences_q(spark, sf_dir):
    # Sequence packing for training batches: assign docs (in deterministic
    # doc_id order per source) to 256-token packs by cumulative token
    # count — the streaming-friendly packing approximation (greedy
    # first-fit needs sequential state; cumsum-div-cap packs within ~1 doc
    # of it and is ONE window shuffle on source, exactly parallelizable).
    from datafusion_bigtable_spark.functions.text import whitespace_token_count

    d = load(spark, sf_dir, "documents").select(
        "source", "doc_id", whitespace_token_count(F.col("text")).alias("tokens")
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    c = d.withColumn("cum", F.sum("tokens").over(w))
    return (
        c.select(
            "source",
            F.floor((F.col("cum") - F.col("tokens")) / 256.0).cast("long").alias("pack_id"),
            "tokens",
        )
        .groupBy("source", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("tokens").cast("long").alias("pack_tokens"))
    )


# =========================================================================
# Streaming + multimodal (SURVEY §7 extensions)
# =========================================================================


@query(
    "streaming_window_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS value_sum
    FROM events GROUP BY 1, 2
    """,
)
def streaming_window_q(spark, sf_dir):
    # Real Structured Streaming execution: parquet stream → watermark →
    # tumbling-window agg → memory sink, driven to completion.  The oracle
    # is the batch equivalent — streaming and batch must agree exactly.
    from datafusion_bigtable_spark.streaming import run_events_stream_to_memory

    name = "dbs_stream_hourly_" + str(abs(hash(sf_dir)) % 10**8)
    return run_events_stream_to_memory(spark, sf_dir, agg="hourly", query_name=name)


@query(
    "streaming_dedup_pairs",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_q(spark, sf_dir):
    # Streaming exact dedup (dropDuplicates keeps per-key state across
    # micro-batches; append mode emits each key once) — the incremental
    # twin of dedup_exact.  Projecting only the key columns makes the
    # streamed output equal batch SELECT DISTINCT regardless of which
    # representative row arrived first.
    from datafusion_bigtable_spark.streaming import run_events_stream_to_memory

    name = "dbs_stream_dedup_" + str(abs(hash(sf_dir)) % 10**8)
    return run_events_stream_to_memory(spark, sf_dir, agg="dedup", query_name=name)


@query(
    "streaming_attribution_join",
    """
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def streaming_attribution_q(spark, sf_dir):
    # Watermarked stream-stream join (two independent sources): purchases
    # join same-user clicks within the preceding 30 min.  The time-range
    # condition + watermarks bound both sides' join state to
    # O(events per window) — without them stream-stream state grows
    # forever.  Append-mode output equals the batch self-join.
    from datafusion_bigtable_spark.streaming import run_events_stream_to_memory

    name = "dbs_stream_attr_" + str(abs(hash(sf_dir)) % 10**8)
    return run_events_stream_to_memory(spark, sf_dir, agg="attribution", query_name=name)


@query(
    "streaming_enriched_counts",
    """
    SELECT event_type, c_mktsegment, COUNT(*) AS n, ROUND(SUM(value), 4) AS value_sum
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY event_type, c_mktsegment
    """,
)
def streaming_enrich_q(spark, sf_dir):
    # Stream-static enrichment: each micro-batch broadcast-joins the static
    # customer dimension (no stream-side shuffle for the join), feeding a
    # running global aggregate — facts stream, dimensions broadcast, the
    # canonical 100 TB/day enrichment shape.  Complete-mode memory sink
    # equals the batch join+agg oracle.
    from datafusion_bigtable_spark.streaming import run_events_stream_to_memory

    name = "dbs_stream_enrich_" + str(abs(hash(sf_dir)) % 10**8)
    return run_events_stream_to_memory(spark, sf_dir, agg="enrich", query_name=name)


@query(
    "multimodal_features",
    """
    SELECT doc_id AS asset_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png'
                WHEN 1 THEN 'image/jpeg' ELSE 'audio/wav' END AS mime,
           CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 33 WHEN 1 THEN 30 ELSE 44 END
                + octet_length(encode(text)) AS BIGINT) AS byte_len,
           CASE WHEN doc_id % 3 < 2 THEN CAST(16 + doc_id % 241 AS INT) END AS width,
           CASE WHEN doc_id % 3 < 2 THEN CAST(16 + (doc_id * 7) % 241 AS INT) END AS height,
           CASE WHEN doc_id % 3 = 2 THEN CAST(8000 + (doc_id % 8) * 1000 AS INT) END AS sample_rate,
           CASE WHEN doc_id % 3 = 2 THEN CAST(1 + doc_id % 2 AS INT) END AS channels
    FROM documents WHERE text IS NOT NULL
    """,
)
def multimodal_features_q(spark, sf_dir):
    # Real container decoding (r2, closing VERDICT missing #3 as far as
    # this container allows): documents become VALID minimal PNG/JPEG/WAV
    # bytes and the operator parses the actual headers (media_codecs.py) —
    # pure Python, no media libs.  Header metadata derives arithmetically
    # from doc_id, and the 33/30/44-byte header sizes are fixed by the
    # container layouts, so DuckDB recomputes every output column — the
    # formerly rows-only check is now a full hash oracle.  Pixel decode is
    # real for the uncompressed profiles (multimodal_pixel_stats); only
    # PNG/JPEG pixel decode stays PIL-gated.
    from datafusion_bigtable_spark.functions.multimodal import (
        extract_features,
        synthesize_media_assets,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    feats = extract_features(synthesize_media_assets(docs), mode="headers")
    return feats.select(
        "asset_id", "mime", "byte_len", "width", "height", "sample_rate", "channels"
    )


@query(
    "multimodal_frame_sample",
    """
    SELECT doc_id AS asset_id,
           CAST(LEAST(4, GREATEST(1, octet_length(encode(text)) // 64)) AS BIGINT) AS n_frames,
           CAST(CASE WHEN octet_length(encode(text)) < 64 THEN octet_length(encode(text))
                     ELSE LEAST(4, octet_length(encode(text)) // 64) * 64
                END AS BIGINT) AS total_bytes
    FROM documents WHERE text IS NOT NULL
    """,
)
def multimodal_frames_q(spark, sf_dir):
    # Frame sampling fan-out over the raw text payloads; the chunk grid is
    # arithmetic in the utf-8 byte length, so the per-asset frame stats
    # hash-verify (r2 — was rows-only).
    from datafusion_bigtable_spark.functions.multimodal import assets_from_documents, sample_frames

    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    frames = sample_frames(assets_from_documents(docs), every_n_bytes=64, max_frames=4)
    return frames.groupBy("asset_id").agg(
        F.count("*").alias("n_frames"), F.sum(F.length("frame")).alias("total_bytes")
    )


@query(
    "multimodal_pixel_stats",
    """
    SELECT doc_id AS asset_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/bmp'
                WHEN 1 THEN 'image/x-portable-pixmap' ELSE 'audio/wav' END AS mime,
           CAST(CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 198 WHEN 1 THEN 155
                ELSE 244 END AS BIGINT) AS byte_len,
           CASE WHEN doc_id % 3 < 2 THEN CAST(8 AS INT) END AS width,
           CASE WHEN doc_id % 3 < 2 THEN CAST(6 AS INT) END AS height,
           CASE WHEN doc_id % 3 = 2 THEN CAST(8000 + (doc_id % 8) * 1000 AS INT) END AS sample_rate,
           CASE WHEN doc_id % 3 = 2 THEN CAST(1 AS INT) END AS channels,
           ROUND(CASE WHEN doc_id % 3 < 2 THEN (doc_id * 7) % 100 + 8 + 71.5
                      ELSE (doc_id * 11) % 500 - 250 + 49.5 END, 4) AS content_mean,
           ROUND(CASE WHEN doc_id % 3 < 2 THEN sqrt(20735 / 12.0)
                      ELSE sqrt(9999 / 12.0) END, 4) AS content_std
    FROM documents
    """,
)
def multimodal_pixel_stats_q(spark, sf_dir):
    # REAL pixel/sample decode (r4, closing VERDICT r3 missing #2): docs
    # become uncompressed 8×6 BMP / binary PPM / 16-bit PCM WAV containers
    # and mode='full' decodes the actual bytes with numpy — content
    # mean/std are genuine pixel/sample statistics.  The fixture's
    # consecutive-integer content keeps both engines on the same float
    # grid (see synthesize_decodable_assets), so the oracle recomputes
    # mean = base+(N-1)/2 and std = sqrt((N²-1)/12) exactly.  Only the
    # compressed profiles (PNG/JPEG) remain PIL-gated.
    from datafusion_bigtable_spark.functions.multimodal import (
        extract_features,
        synthesize_decodable_assets,
    )

    # NOT widened (r13 measured): these maps build/decode 8x6 images —
    # too cheap per row to amortize a full-text exchange + extra Python
    # workers (widening: sf0.1 0.54 -> 2.31 s for an sf1 2.7 -> 1.1 s win;
    # the jpeg/audio twins' heavier decodes DO widen profitably).
    docs = load(spark, sf_dir, "documents")
    feats = extract_features(synthesize_decodable_assets(docs), mode="full")
    return feats.select(
        "asset_id",
        "mime",
        "byte_len",
        "width",
        "height",
        "sample_rate",
        "channels",
        F.round("content_mean", 4).alias("content_mean"),
        F.round("content_std", 4).alias("content_std"),
    )


@query(
    "multimodal_video_frames",
    """
    WITH v AS (SELECT doc_id, 2 + doc_id % 5 AS nf FROM documents)
    SELECT doc_id AS asset_id,
           CAST(1 + CASE WHEN nf > 2 THEN 1 ELSE 0 END
                  + CASE WHEN nf > 4 THEN 1 ELSE 0 END AS BIGINT) AS n_frames,
           ROUND(CAST((doc_id * 31) % 256
             + CASE WHEN nf > 2 THEN (doc_id * 31 + 34) % 256 ELSE 0 END
             + CASE WHEN nf > 4 THEN (doc_id * 31 + 68) % 256 ELSE 0 END
             AS DOUBLE), 4) AS mean_sum
    FROM v
    """,
)
def multimodal_video_frames_q(spark, sf_dir):
    # Real container FRAMING composed with real pixel decode (r4): docs
    # become concatenated-P6 streams (ffmpeg image2pipe wire format);
    # sample_frames(mode='ppm') parses successive frame headers and keeps
    # every 2nd frame; each kept frame — itself a valid PPM — flows through
    # extract_features(mode='full') for its decoded pixel mean.  Constant-
    # color frames make each mean an exact integer the oracle recomputes.
    # Both stages are Arrow-batched mapInPandas; the agg shuffles once on
    # asset_id.
    from datafusion_bigtable_spark.functions.multimodal import (
        extract_features,
        sample_frames,
        synthesize_video_assets,
    )

    docs = load(spark, sf_dir, "documents")
    frames = sample_frames(
        synthesize_video_assets(docs), mode="ppm", frame_stride=2, max_frames=3
    )
    frame_assets = frames.select(
        F.col("asset_id"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        F.col("frame").alias("payload"),
    )
    feats = extract_features(frame_assets, mode="full")
    return feats.groupBy("asset_id").agg(
        F.count("*").alias("n_frames"),
        F.round(F.sum("content_mean"), 4).alias("mean_sum"),
    )


@query(
    "union_all_entities",
    """
    SELECT kind, COUNT(*) AS n, ROUND(SUM(acctbal), 2) AS total_bal FROM (
      SELECT 'customer' AS kind, c_acctbal AS acctbal FROM customer
      UNION ALL
      SELECT 'supplier' AS kind, s_acctbal AS acctbal FROM supplier
    ) t GROUP BY kind
    """,
)
def union_all_q(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(F.lit("customer").alias("kind"), F.col("c_acctbal").alias("acctbal"))
    s = load(spark, sf_dir, "supplier").select(F.lit("supplier").alias("kind"), F.col("s_acctbal").alias("acctbal"))
    return (
        c.unionByName(s)
        .groupBy("kind")
        .agg(F.count("*").alias("n"), F.round(F.sum("acctbal"), 2).alias("total_bal"))
    )


@query(
    "streaming_stateful_user_totals",
    """
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS value_sum
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_q(spark, sf_dir):
    # applyInPandasWithState running totals.  The update process itself is
    # non-SQL-expressible, but its FINAL state table is exactly the batch
    # per-user aggregate — that is the oracle (VERDICT r1 #2).  The memory
    # sink in update mode appends one row per state update; the latest
    # update per user (max n_events — the counter is strictly increasing)
    # is the final state.
    from datafusion_bigtable_spark.streaming import run_events_stream_to_memory

    name = "dbs_stream_stateful_" + str(abs(hash(sf_dir)) % 10**8)
    updates = run_events_stream_to_memory(spark, sf_dir, agg="stateful", query_name=name)
    return updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.expr("max_by(value_sum, n_events)").alias("value_sum"),
    )


@query(
    "skew_salted_aggregation",
    """
    SELECT event_type, ROUND(SUM(value), 4) AS sum_value, COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def skew_salted_q(spark, sf_dir):
    # Two-phase salted aggregation — same answer as a plain groupBy (the
    # oracle), but a hot event_type spreads over 16 reducers in phase 1.
    # NOTE: sum-of-partial-sums can differ from a single-pass sum in last
    # bits; value grid here is raw doubles so we round at 4 (error ~1e-10).
    from datafusion_bigtable_spark.operators.skew import salted_sum_count

    e = load(spark, sf_dir, "events")
    out = salted_sum_count(e, ["event_type"], "value", buckets=16)
    return out.select(
        "event_type", F.round("sum_value", 4).alias("sum_value"), F.col("n")
    )


@query(
    "approx_aggregates",
    """
    SELECT l_returnflag, TRUE AS approx_orders_ok, TRUE AS approx_p90_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_q(spark, sf_dir):
    # HLL++ distinct + t-digest percentile — the bounded-memory twins of
    # agg_distinct_stats/median_quantiles for the 100 TB path.  DuckDB's
    # sketches produce different estimates, so the values themselves can't
    # hash-match; instead the query REDUCES each estimate to a bounded-
    # error boolean against an EXACT check (VERDICT r1 #2) — the oracle
    # asserts every group is TRUE.
    #
    # r8 form (closing VERDICT r7 #1, the lone >2× bench entry): the r2-r7
    # fused ObjectHashAggregate paid for its exact twins with per-group
    # buffer-everything functions (collect_set over ~200k keys, percentile
    # over ~600k values per group at sf0.1 — 2.3 s, and the same shape
    # OOMs at 100 TB).  The exact verification is now two passes with NO
    # object buffers, 1.5 s at sf0.1 and bounded memory at any scale:
    #   1. sketch pass: approx_count_distinct(rsd 0.01) +
    #      percentile_approx(accuracy 1000) — one ObjectHashAggregate,
    #      3 rows collected (bounded: one per return flag);
    #   2. verify pass: pre-group by (flag, orderkey) — a plain codegen
    #      HashAggregate — then per-flag count(*) = EXACT distinct orders
    #      (the countDistinct-EXPAND trap from r1 never appears: the
    #      two-level rewrite is explicit), and the p90 sketch verified by
    #      its actual guarantee, RANK: count rows ≤ the sketch value and
    #      assert |below/n − 0.9| < 0.05.  A rank check is exact and
    #      sharper than the former 5%-of-value comparison (t-digest bounds
    #      rank error ≤ 1/accuracy = 0.1%), and costs one conditional sum
    #      fused into the same pre-aggregation.
    # The sketch values embed as per-flag literals (3-entry CASE), so the
    # verify pass stays whole-stage codegen end to end.
    l = load(spark, sf_dir, "lineitem")
    sk = (
        l.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", 0.01).alias("a_cnt"),
            F.percentile_approx("l_extendedprice", 0.9, 1000).alias("a_p90"),
        )
        .collect()
    )
    a_cnt = {r["l_returnflag"]: r["a_cnt"] for r in sk}
    a_p90 = {r["l_returnflag"]: r["a_p90"] for r in sk}
    p90_lit = F.coalesce(
        *[F.when(F.col("l_returnflag") == k, F.lit(v)) for k, v in a_p90.items()]
    )
    cnt_lit = F.coalesce(
        *[F.when(F.col("l_returnflag") == k, F.lit(v)) for k, v in a_cnt.items()]
    )
    pre = l.groupBy("l_returnflag", "l_orderkey").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(
            F.when(F.col("l_extendedprice") <= p90_lit, 1).otherwise(0)
        ).alias("_below"),
    )
    ver = pre.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("e_cnt"),
        F.sum("_n").alias("n"),
        F.sum("_below").alias("below"),
    )
    return ver.select(
        "l_returnflag",
        (F.abs(cnt_lit - F.col("e_cnt")) / F.col("e_cnt") < 0.05).alias(
            "approx_orders_ok"
        ),
        (F.abs(F.col("below") / F.col("n") - 0.9) < 0.05).alias("approx_p90_ok"),
    )


@query(
    "grouping_sets_mixed",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)
def grouping_sets_q(spark, sf_dir):
    # Explicit GROUPING SETS (neither pure rollup nor cube) via SQL —
    # Catalyst expands the sets before the shuffle, same as rollup/cube.
    l = load(spark, sf_dir, "lineitem")
    l.createOrReplaceTempView("dbs_lineitem_gs")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM dbs_lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


@query(
    "streaming_session_windows",
    """
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS ns
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM g)
    SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def streaming_session_q(spark, sf_dir):
    # Real Structured Streaming session_window execution; the oracle is the
    # batch gap-based sessionizer (equivalent unless an inter-event gap is
    # EXACTLY 30:00.000000, impossible with µs-random timestamps).
    from datafusion_bigtable_spark.streaming import run_events_stream_to_memory

    name = "dbs_stream_sess_" + str(abs(hash(sf_dir)) % 10**8)
    return run_events_stream_to_memory(spark, sf_dir, agg="session", query_name=name)


@query(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4(spark, sf_dir):
    # Semi join with a non-equi residual: the equi key still drives the
    # shuffle; the date comparison is evaluated inside the join.
    # r14: sixth bucketed-fixture consumer — the semi join keys on
    # orderkey, so the shared layouts run it co-located with zero
    # exchanges; only the tiny priority rollup shuffles (plan pinned).
    from datafusion_bigtable_spark.operators.bucketing import orderkey_family

    o, l = orderkey_family(spark, sf_dir)
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    cond = (l.l_orderkey == o.o_orderkey) & (
        l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    )
    return (
        o.join(l, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "tpch_q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(YEAR(l.l_shipdate) AS INT) AS l_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'CHINA' AND n2.n_name = 'JAPAN')
        OR (n1.n_name = 'JAPAN' AND n2.n_name = 'CHINA'))
    GROUP BY n1.n_name, n2.n_name, YEAR(l.l_shipdate)
    """,
)
def tpch_q7(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "CHINA") & (F.col("cust_nation") == "JAPAN")
    ) | ((F.col("supp_nation") == "JAPAN") & (F.col("cust_nation") == "CHINA"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


@query(
    "tpch_q14_promo_revenue",
    """
    SELECT ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= DATE '1997-09-01' AND l.l_shipdate < DATE '1997-10-01'
    """,
)
def tpch_q14(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("date"))
    )
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(F.round(F.lit(100.0) * F.sum(promo) / F.sum(rev), 6).alias("promo_revenue"))
    )


@query(
    "tpch_q18_large_orders",
    """
    SELECT c.c_name, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS orderdate,
           ROUND(o.o_totalprice, 2) AS o_totalprice,
           ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    HAVING SUM(l.l_quantity) > 150
    """,
)
def tpch_q18(spark, sf_dir):
    # r14 (VERDICT r13 #5): the second bucketed-fixture consumer, on the
    # OTHER join key — lineitem and orders bucketed 16 on orderkey make
    # the fact⋈fact join exchange-free, and because o_orderkey is one of
    # the grouping keys, hashpartitioning(orderkey) also satisfies the
    # aggregation — with the broadcast customer join in between, q18
    # runs with ZERO shuffle Exchanges end-to-end (plan pinned in
    # tests/test_bucketing.py).  Values oracle-identical to plain loads.
    from datafusion_bigtable_spark.operators.bucketing import orderkey_family

    c = load(spark, sf_dir, "customer")
    o, l = orderkey_family(spark, sf_dir)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 150)
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("_q", 2).alias("total_qty"),
        )
    )


@query(
    "tpch_q19_disjunctive_revenue",
    """
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
)
def tpch_q19(spark, sf_dir):
    # Disjunctive mixed-table predicates: Catalyst can't split the OR
    # across the join, so it evaluates post-join — the join itself stays
    # a broadcast on part.
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), p.p_partkey == l.l_partkey)
    br = lambda b, smax, qlo, qhi: (
        (F.col("p_brand") == b)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return j.filter(br("Brand#1", 15, 1, 20) | br("Brand#2", 25, 10, 30) | br("Brand#3", 35, 20, 40)).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
        F.count("*").alias("n"),
    )


@query(
    "deterministic_hash_sample",
    """
    SELECT doc_id, lang FROM documents
    WHERE CAST(CAST(('0x' || substr(md5('s0' || CAST(doc_id AS VARCHAR)), 1, 8)) AS INT64)
               % 10000 AS INT) < 2000
    """,
)
def hash_sample_q(spark, sf_dir):
    # Reproducible 20% sample by content-hash bucket — identical member-
    # ship on every run and every engine (vs df.sample's RNG streams).
    from datafusion_bigtable_spark.operators.sampling import hash_sample

    d = load(spark, sf_dir, "documents")
    return hash_sample(d, "doc_id", 0.2, seed="s0").select("doc_id", "lang")


@query(
    "tpch_q8_market_share",
    """
    SELECT l_year, ROUND(asia_rev / total_rev, 6) AS mkt_share FROM (
      SELECT CAST(YEAR(o.o_orderdate) AS INT) AS l_year,
             SUM(CASE WHEN r.r_name = 'ASIA'
                      THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END) AS asia_rev,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS total_rev
      FROM lineitem l
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
      GROUP BY YEAR(o.o_orderdate)) t
    """,
)
def tpch_q8(spark, sf_dir):
    # Market-share shape: conditional vs total aggregation in one pass —
    # the ratio is computed post-agg so the plan stays one shuffle.
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    asia = F.when(F.col("r_name") == "ASIA", rev).otherwise(F.lit(0.0))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("l_year"))
        .agg(F.sum(asia).alias("_a"), F.sum(rev).alias("_t"))
        .select("l_year", F.round(F.col("_a") / F.col("_t"), 6).alias("mkt_share"))
    )


@query(
    "tpch_q22_idle_rich_customers",
    """
    SELECT c_mktsegment, COUNT(*) AS n_custs, ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def tpch_q22(spark, sf_dir):
    # Scalar subquery (global avg, computed once and broadcast as a
    # literal-like single-row plan) + anti join.
    # r14: fourth bucketed-fixture consumer, sharing q13's custkey
    # layouts (content-addressed — zero extra write).  The anti-join
    # runs co-located with no exchange on either side; at 100 TB
    # broadcasting orders' key column stops being an option, and the
    # layout is what keeps NOT-EXISTS-shaped decontamination scans
    # shuffle-free.  Only the tiny mktsegment aggregate shuffles
    # (plan pinned in tests/test_bucketing.py).  Values
    # oracle-identical.
    from datafusion_bigtable_spark.operators.bucketing import custkey_family

    c, o = custkey_family(spark, sf_dir)
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_custs"), F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
    )


@query(
    "dedup_multi_signal",
    """
    WITH w AS (
      SELECT doc_id AS id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS w
      FROM documents),
    sh AS (
      SELECT DISTINCT id, w[g] || ' ' || w[g+1] || ' ' || w[g+2] AS shingle
      FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-2, 0))) AS g) i),
    mh AS (
      SELECT id, s.seed, MIN(md5(CAST(s.seed AS VARCHAR) || '|' || shingle)) AS minhash
      FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) s
      GROUP BY id, s.seed),
    banded AS (
      SELECT id, CAST(seed // 2 AS INT) AS band,
             string_agg(minhash, ',' ORDER BY minhash) AS band_sig
      FROM mh GROUP BY id, seed // 2),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id)
    SELECT c.id_a, c.id_b,
           ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 6) AS cosine
    FROM cand c JOIN embeddings ea ON ea.vec_id = c.id_a
                JOIN embeddings eb ON eb.vec_id = c.id_b
    """,
)
def dedup_multi_signal_q(spark, sf_dir):
    # Composition: text-signal candidates (MinHash LSH) re-scored by the
    # embedding signal — the two-stage multi-modal dedup a training
    # pipeline actually runs (cheap blocking, expensive verify on the
    # candidate set only).
    from datafusion_bigtable_spark.operators.dedup import lsh_candidate_pairs
    from datafusion_bigtable_spark.operators.similarity import dot, norm

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings").withColumn("_n", norm(F.col("embedding")))
    cand = lsh_candidate_pairs(docs)
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), F.col("_n").alias("na"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), F.col("_n").alias("nb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
    )


@query(
    "text_top_bigrams",
    """
    WITH w AS (
      SELECT doc_id AS id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS w
      FROM documents),
    bg AS (
      SELECT w[g] || ' ' || w[g+1] AS bigram
      FROM w, LATERAL (SELECT unnest(generate_series(1, greatest(len(w)-1, 0))) AS g) i)
    SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 10
    """,
)
def text_top_bigrams_q(spark, sf_dir):
    # Corpus n-gram statistics: non-distinct bigrams (frequency counts,
    # unlike dedup's distinct shingles), global top-k with tie-break.
    from datafusion_bigtable_spark.functions.text import words

    d = load(spark, sf_dir, "documents")
    w = words(F.col("text"))
    ex = d.select(F.posexplode(w).alias("pos", "w0"), F.col("doc_id"))
    win = W.partitionBy("doc_id").orderBy("pos")
    nxt = F.lead("w0", 1).over(win)
    return (
        ex.withColumn("w1", nxt)
        .filter(F.col("w1").isNotNull())
        .select(F.concat_ws(" ", "w0", "w1").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(10)
    )


@query(
    "text_heavy_hitters",
    """
    WITH w AS (
      SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS w
      FROM documents),
    t AS (SELECT unnest(w) AS token FROM w),
    c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token),
    r AS (SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank, token, cnt FROM c)
    SELECT rank, token, cnt FROM r WHERE rank <= 40
    """,
)
def text_heavy_hitters_q(spark, sf_dir):
    # EXACT top-40 tokens via the two-phase Misra-Gries plan
    # (operators/heavyhitters.py): bounded-state candidate summaries per
    # partition, then a broadcast-candidate exact recount whose shuffle is
    # candidate-width, not vocabulary-width — with a proof-or-fallback
    # guarantee, so the oracle (plain exact top-k) must match EXACTLY at
    # every SF regardless of which path ran.
    from datafusion_bigtable_spark.operators.heavyhitters import exact_top_tokens

    return exact_top_tokens(load(spark, sf_dir, "documents"), k=40, summary_size=4096)


@query(
    "corpus_zipf_slope",
    """
    WITH w AS (
      SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS w
      FROM documents),
    t AS (SELECT unnest(w) AS token FROM w),
    c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token),
    r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank FROM c
          ORDER BY cnt DESC, token LIMIT 1000)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ranked,
           ROUND(regr_slope(ln(cnt), ln(rank)), 4) AS zipf_slope
    FROM r
    """,
)
def corpus_zipf_slope_q(spark, sf_dir):
    # Zipf's-law fit for corpus health auditing: OLS slope of ln(count)
    # against ln(rank) over the top-1000 tokens (natural text sits near
    # -1; a slope collapsing toward 0 flags boilerplate/spam floods, a
    # steep one flags vocabulary collapse).  Scale shape: one map-side-
    # combined token count shuffle, then TakeOrdered(1000) — never a
    # vocabulary-wide global sort or window; the rank window runs on the
    # 1000 survivors in one bounded partition.
    from datafusion_bigtable_spark.functions.text import words

    toks = load(spark, sf_dir, "documents").select(
        F.explode(words(F.col("text"))).alias("token")
    )
    top = (
        toks.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(1000)
    )
    ranked = top.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("cnt"), F.asc("token")))
    )
    return ranked.agg(
        F.count("*").cast("long").alias("n_ranked"),
        F.round(F.regr_slope(F.log("cnt"), F.log("rank")), 4).alias("zipf_slope"),
    )


@query(
    "events_funnel_analysis",
    """
    WITH steps AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id)
    SELECT CAST(COUNT(*) AS BIGINT)                                       AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS viewed,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                         THEN 1 ELSE 0 END) AS BIGINT)                    AS clicked_after_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                          AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS BIGINT)                    AS purchased_after_click
    FROM steps
    """,
)
def funnel_q(spark, sf_dir):
    # Sequential funnel: first-occurrence per step, strict ordering between
    # steps — one conditional aggregation, one scalar rollup (no joins).
    e = load(spark, sf_dir, "events")
    first = lambda t: F.min(F.when(F.col("event_type") == t, F.col("ts")))
    steps = e.groupBy("user_id").agg(
        first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return steps.agg(
        F.count("*").alias("n_users"),
        F.sum(viewed.cast("long")).alias("viewed"),
        F.sum(clicked.cast("long")).alias("clicked_after_view"),
        F.sum(purchased.cast("long")).alias("purchased_after_click"),
    )


@query(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(l_extendedprice * (1 - l_discount)) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, ROUND(r.total_rev, 4) AS total_rev
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
)
def tpch_q15(spark, sf_dir):
    # One-pass form (VERDICT r1 #5): the scalar-max subquery is a global
    # window-max OVER the revenue aggregate, so lineitem is scanned and
    # shuffled exactly once (the broadcast-max join form planned the whole
    # revenue subtree — two full lineitem scans — twice).  The empty
    # window partition funnels only the per-supplier aggregate (|suppliers|
    # rows, not |lineitem|) through one task — the standard argmax shape.
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("date"))
    )
    s = load(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev")
    )
    with_max = revenue.withColumn("mx", F.max("total_rev").over(W.partitionBy()))
    return (
        with_max.filter(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", F.round("total_rev", 4).alias("total_rev"))
    )


@query(
    "tpch_q17_small_quantity_revenue",
    """
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 4) AS avg_yearly, COUNT(*) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)
def tpch_q17(spark, sf_dir):
    # Correlated per-group aggregate subquery → decorrelated as a join
    # against the per-part average (exactly what Catalyst/DataFusion do).
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_qty = l.groupBy(F.col("l_partkey").alias("ap")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(avg_qty, l.l_partkey == F.col("ap"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count("*").alias("n"),
        )
    )


@query(
    "tpch_q21_waiting_suppliers",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
      JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate)
    GROUP BY s.s_name
    """,
)
def tpch_q21(spark, sf_dir):
    # EXISTS + NOT EXISTS with inequality correlation: decorrelated into
    # per-order supplier stats (distinct supplier count; late-supplier
    # set) joined back — one pass over lineitem for the stats instead of
    # two correlated probes.
    # r14: fifth bucketed-fixture consumer — every join AND aggregation
    # in the decorrelated plan keys on orderkey, so the shared orderkey
    # layouts make l1⋈o, the order-stats l⋈o + groupBy(l_orderkey), and
    # the l1⋈order_stats join-back ALL exchange-free; the only shuffle
    # left is the tiny s_name rollup (plan pinned in
    # tests/test_bucketing.py).  Values oracle-identical.
    from datafusion_bigtable_spark.operators.bucketing import orderkey_family

    o, l = orderkey_family(spark, sf_dir)
    o = o.filter(F.col("o_orderstatus") == "F")
    s = load(spark, sf_dir, "supplier")

    l1 = l.join(o, l.l_orderkey == o.o_orderkey).filter(F.col("l_shipdate") > F.col("o_orderdate"))
    # per order: #distinct suppliers; #distinct LATE suppliers.
    # Two-stage instead of a countDistinct PAIR: multi-distinct rewrites
    # into an Expand whose grouping destroys the scan's partitioning
    # (three extra exchanges under the bucketed layout).  Aggregating by
    # (orderkey, suppkey) first keeps every stage clustered by the
    # bucket key — identical values, exchange-free plan.
    order_stats = (
        l.join(o.select("o_orderkey", "o_orderdate"), l.l_orderkey == F.col("o_orderkey"))
        .groupBy(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk"))
        .agg(
            F.max(
                F.when(F.col("l_shipdate") > F.col("o_orderdate"), 1).otherwise(0)
            ).alias("late")
        )
        .groupBy("ok")
        # count(sk)/sum-over-non-null, NOT count(*): countDistinct (and
        # the oracle's NULL-false <> correlation) ignore NULL suppkeys,
        # so a NULL-suppkey group must not count as "another supplier"
        # (review r14-3 #2; latent — the fixtures carry no NULL keys).
        .agg(
            F.count("sk").alias("n_supp"),
            F.sum(F.when(F.col("sk").isNotNull(), F.col("late")).otherwise(0)).alias(
                "n_late"
            ),
        )
    )
    j = l1.join(order_stats, l1.l_orderkey == F.col("ok"))
    # EXISTS other supplier: n_supp >= 2; NOT EXISTS other late: n_late == 1
    # (l1 rows are late themselves, so the only late supplier is l1's)
    kept = j.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    return (
        kept.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


# =========================================================================
# TPC-H completion — q2/q9/q11/q12/q13/q16/q20 adapted to the reduced
# testdata schema (no partsupp table; no comment/shipmode/commitdate
# columns).  Each adaptation preserves the query's optimizer-relevant
# SHAPE (the join topology, subquery pattern, and aggregation structure
# the original exercises); lineitem stands in for partsupp as the
# part×supplier price/stock list.
# =========================================================================


@query(
    "tpch_q2_min_cost_supplier",
    """
    WITH costs AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    best AS (
      SELECT l_partkey AS bp, MIN(unit_cost) AS min_cost FROM costs GROUP BY l_partkey)
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, ROUND(c.unit_cost, 4) AS min_unit_cost
    FROM costs c
      JOIN best ON best.bp = c.l_partkey AND c.unit_cost = best.min_cost
      JOIN part p ON p.p_partkey = c.l_partkey
      JOIN supplier s ON s.s_suppkey = c.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE p.p_size = 30 AND p.p_type = 'ECONOMY' AND r.r_name = 'ASIA'
    """,
)
def tpch_q2(spark, sf_dir):
    # q2 shape: correlated MIN subquery (min-cost supplier per part) over
    # the part×supplier price list.  Decorrelated as a window-MIN over the
    # (partkey, suppkey) aggregate — ONE lineitem scan, one agg shuffle,
    # one window shuffle on partkey (a second agg + self-join would plan
    # the lineitem subtree twice, the q15 trap from round 1).
    # part/supplier/nation/region are broadcast.  Float-equality against
    # the window min is safe: both sides are THE SAME double computed once.
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter((F.col("p_size") == 30) & (F.col("p_type") == "ECONOMY"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    costs = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    min_cost = F.min("unit_cost").over(W.partitionBy("l_partkey"))
    return (
        costs.withColumn("min_cost", min_cost)
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", F.round("unit_cost", 4).alias("min_unit_cost"))
    )


@query(
    "tpch_q9_product_type_profit",
    """
    SELECT n.n_name AS nation, CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                     - 0.5 * p.p_retailprice * l.l_quantity), 4) AS profit
    FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY n.n_name, YEAR(o.o_orderdate)
    """,
)
def tpch_q9(spark, sf_dir):
    # q9 shape: 5-way star join + year extraction + profit aggregate.
    # 0.5*p_retailprice stands in for ps_supplycost — 0.5 is exact in
    # binary, keeping every term on the 1e-4 value grid so ROUND(,4) is
    # at-grid (cross-engine hash-stable).  part/supplier/nation broadcast;
    # the only big shuffle is lineitem⋈orders.
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.5) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        l.join(F.broadcast(p), p.p_partkey == l.l_partkey)
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.round(F.sum(profit), 4).alias("profit"))
    )


@query(
    "tpch_q11_important_stock",
    """
    WITH val AS (
      SELECT l.l_partkey, SUM(l.l_extendedprice * l.l_quantity) AS v
      FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'
      GROUP BY l.l_partkey)
    SELECT l_partkey, ROUND(v, 2) AS stock_value
    FROM val WHERE v > (SELECT SUM(v) * 0.001 FROM val)
    """,
)
def tpch_q11(spark, sf_dir):
    # q11 shape: grouped value sum + HAVING against a scalar-subquery
    # fraction of the global total.  The global total comes from an empty
    # window over the SAME aggregate — one scan, one shuffle, no second
    # pass (the q15 window-max trick).  Threshold compares the raw double
    # (both engines sum identical 1e-2-grid terms; integer quantities keep
    # partial sums exactly representable, so order noise stays ~1e-9 —
    # far from any group's distance to the threshold).
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    val = (
        l.join(F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("v"))
    )
    total = F.sum("v").over(W.partitionBy())
    return (
        val.withColumn("_thr", total * 0.001)
        .filter(F.col("v") > F.col("_thr"))
        .select("l_partkey", F.round("v", 2).alias("stock_value"))
    )


@query(
    "tpch_q12_shipmode_priority",
    """
    SELECT l.l_returnflag AS mode,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate < DATE '1997-01-01'
    GROUP BY l.l_returnflag
    """,
)
def tpch_q12(spark, sf_dir):
    # q12 shape: fact⋈fact join + date-window filter + conditional counts
    # (l_returnflag stands in for the absent l_shipmode).  The shipdate
    # filter reaches the parquet scan; at 100 TB lineitem⋈orders is the
    # sort-merge shuffle AQE manages, everything above is map-side.
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
    )
    o = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, o.o_orderkey == l.l_orderkey)
        .groupBy(F.col("l_returnflag").alias("mode"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey) t
    GROUP BY c_count
    """,
)
def tpch_q13(spark, sf_dir):
    # q13 shape: outer join with an ON-clause residual predicate (the
    # o_comment NOT LIKE of the original, stood in by o_orderpriority),
    # then a two-level aggregation (per-customer count → histogram).
    # r14 (VERDICT r13 #5): opted into the bucketed fixture layout —
    # customer and orders both bucketed 16 on custkey, so the join AND
    # the per-customer aggregation run with ZERO Exchange on custkey
    # (plan pinned in tests/test_bucketing.py); the only shuffle left is
    # the tiny c_count histogram.  The layout is written once per
    # fixture generation and shared with every other custkey join.
    # Values are oracle-identical to the plain load (hash unchanged).
    from datafusion_bigtable_spark.operators.bucketing import custkey_family

    # ONE count for the join family, sized off its largest member (both
    # sides must agree for the exchange-free plan) — membership and
    # sizing live in custkey_family, shared by every consumer.
    c, o = custkey_family(spark, sf_dir)
    o = o.filter(F.col("o_orderpriority") != "5-LOW")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@query(
    "tpch_q16_supplier_part_counts",
    """
    SELECT p.p_brand, p.p_type, p.p_size, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16(spark, sf_dir):
    # q16 shape: NOT IN sub-select (suppliers excluded by attribute — the
    # original's complaint-comment filter, stood in by negative balance)
    # as a broadcast anti-join, then COUNT(DISTINCT supplier) per part
    # group.  The distinct-agg shuffles on the group keys + suppkey.
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), p.p_partkey == l.l_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q20_excess_suppliers",
    """
    SELECT s.s_name, s.s_acctbal
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_5' AND s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE 'small%'
        AND l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate < DATE '1999-01-01'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(l.l_quantity) > 50)
    """,
)
def tpch_q20(spark, sf_dir):
    # q20 shape: nested IN with a grouped HAVING threshold (the original's
    # availqty > ½·shipped-qty test collapsed onto the lineitem side), fed
    # into a semi join against the nation-filtered supplier list.  Integer
    # quantities make the >100 threshold exact in any summation order.
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("date"))
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    heavy = (
        l.join(F.broadcast(p), p.p_partkey == l.l_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 50)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
    )


# =========================================================================
# Round 6: repetition filtering, TF-IDF, SCD2 temporal compaction, shard
# assignment (operators/temporal.py, operators/tfidf.py, functions/text.py)
# =========================================================================


@query(
    "text_repetition_signals",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x != '') AS ws
      FROM documents),
    g AS (
      SELECT doc_id, ws,
             CASE WHEN len(ws) >= 2
                  THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
                  ELSE [] END AS grams
      FROM w),
    m AS (
      SELECT doc_id,
        ROUND(CASE WHEN len(ws)>0
              THEN len(list_distinct(ws))::DOUBLE/len(ws) ELSE 1.0 END, 4) AS distinct_ratio,
        ROUND(CASE WHEN len(ws)>0
              THEN list_max(list_transform(list_distinct(ws),
                     d -> len(list_filter(ws, x -> x = d))))::DOUBLE/len(ws)
              ELSE 0.0 END, 4) AS top_word_share,
        ROUND(CASE WHEN len(grams)>0
              THEN (len(grams)-len(list_distinct(grams)))::DOUBLE/len(grams)
              ELSE 0.0 END, 4) AS dup_bigram_ratio
      FROM g)
    SELECT doc_id, distinct_ratio, top_word_share, dup_bigram_ratio,
           (distinct_ratio >= 0.35 AND top_word_share <= 0.12
            AND dup_bigram_ratio <= 0.05) AS keep
    FROM m
    """,
)
def text_repetition_signals_q(spark, sf_dir):
    # Gopher-style repetition quality rules (functions/text.py): duplicate-
    # word ratio, most-frequent-word share, duplicate-bigram ratio — the
    # standard boilerplate/keyword-stuffing/broken-scrape detectors.  All
    # three are array expressions over the doc's own word list: ZERO
    # shuffle, they run inside the scan's codegen stage, which is the only
    # shape that matters when gating 100 TB before any expensive stage
    # (thresholds chosen to split this corpus non-trivially).
    # with_repetition_signals shares the tokenize/sort/fold across the
    # three columns — 7× over sibling per-signal expressions at sf0.1.
    from datafusion_bigtable_spark.functions.text import with_repetition_signals

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    m = with_repetition_signals(d).drop("text")
    return m.withColumn(
        "keep",
        (F.col("distinct_ratio") >= 0.35)
        & (F.col("top_word_share") <= 0.12)
        & (F.col("dup_bigram_ratio") <= 0.05),
    )


@query(
    "text_tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x != '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    sc AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
             ROUND(tf.tf * ln(n.n_docs::DOUBLE / dfq.df), 4) AS score,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC) AS rank
      FROM tf JOIN dfq USING (term) CROSS JOIN n)
    SELECT doc_id, term, tf, df, score, CAST(rank AS BIGINT) AS rank
    FROM sc WHERE rank <= 3
    """,
)
def text_tfidf_top_terms_q(spark, sf_dir):
    # Corpus TF-IDF, top-3 terms per doc (operators/tfidf.py).  The 100 TB
    # shape: token pairs shuffle ONCE into (doc, term) counts with map-side
    # partial agg; the vocabulary-sized df table BROADCASTS back (the
    # corpus never reshuffles for the join); ranks order by the integer
    # (tf DESC, df ASC, term ASC) — rarity-aware and exactly reproducible
    # across engines, where ordering by the float score would flap on
    # 1e-16 noise.
    from datafusion_bigtable_spark.operators.tfidf import tfidf_top_terms

    return tfidf_top_terms(load(spark, sf_dir, "documents"), k=3)


@query(
    "scd2_user_segments",
    """
    WITH el AS (
      SELECT user_id, ts, event_type, event_id,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    ch AS (SELECT * FROM el WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
    SELECT user_id, epoch_us(ts) AS valid_from_us,
           epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS valid_to_us,
           event_type AS segment
    FROM ch
    """,
)
def scd2_user_segments_q(spark, sf_dir):
    # Changelog → SCD2 temporal table (operators/temporal.py): the events
    # stream is each user's segment changelog; consecutive repeats collapse
    # (re-asserting a value extends its interval), survivors get
    # [valid_from, valid_to) via lead(), open interval for the current
    # state.  Both windows share one (user) partitioning → ONE shuffle,
    # single stage.  Validity bounds exported as epoch µs (timezone-free
    # integers on both engines).
    from datafusion_bigtable_spark.operators.temporal import changelog_to_scd2

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type", "event_id")
    scd = changelog_to_scd2(ev, key="user_id", ts="ts", value="event_type", tie=("event_id",))
    epoch = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"
    return scd.select(
        "user_id",
        F.timestamp_diff("MICROSECOND", F.expr(epoch), F.col("valid_from")).alias("valid_from_us"),
        F.timestamp_diff("MICROSECOND", F.expr(epoch), F.col("valid_to")).alias("valid_to_us"),
        F.col("event_type").alias("segment"),
    )


@query(
    "corpus_shard_assign",
    """
    WITH t AS (
      SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS INT64) % 16 AS shard_id,
             doc_id,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS toks
      FROM documents)
    SELECT shard_id, COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM t GROUP BY shard_id
    """,
)
def corpus_shard_assign_q(spark, sf_dir):
    # Deterministic training-shard assignment + balance audit: shard =
    # md5(doc_id) prefix mod 16 — content-independent, engine-portable
    # (same md5 trick as deterministic_hash_sample), and the column a real
    # run hands to .repartition(n, shard)/partitionBy to materialize
    # training order.  The audit aggregate (docs + tokens per shard) is the
    # artifact you check BEFORE launching a 1000-executor epoch: token
    # imbalance here is straggler time there.  One groupBy shuffle of
    # pre-aggregated per-shard partials.
    from datafusion_bigtable_spark.functions.text import whitespace_token_count

    d = load(spark, sf_dir, "documents").select(
        F.pmod(
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
            F.lit(16),
        ).alias("shard_id"),
        "doc_id",
        whitespace_token_count(F.col("text")).alias("toks"),
    )
    return d.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("toks").alias("n_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "text_pii_redaction",
    r"""
    WITH a AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example or +1 555-01'
                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                  || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
      FROM documents)
    SELECT doc_id,
      len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      len(regexp_extract_all(aug, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS n_ids,
      md5(regexp_replace(
            regexp_replace(
              regexp_replace(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<ID>', 'g'),
            '\+?[0-9][0-9\- ]{7,}[0-9]', '<PHONE>', 'g')) AS redacted_md5
    FROM a
    """,
)
def text_pii_redaction_q(spark, sf_dir):
    # PII scrubbing (functions/text.py::redact_pii): email/id/phone
    # patterns from the Java∩RE2-portable subset, applied in a fixed order
    # (emails → SSN ids → phone runs, so the phone pattern never half-eats
    # an id).  The corpus text carries no PII, so each doc gets a
    # deterministic synthetic contact line appended FIRST — the operator
    # then has real work whose redacted output is verified byte-for-byte
    # via md5 against the oracle.  Pure regexp_replace chain: zero
    # shuffle, fused into the scan like the other curation gates.
    from datafusion_bigtable_spark.functions.text import pii_counts, redact_pii
    from datafusion_bigtable_spark.operators.partitioning import widen_if_narrow

    # r13: same starved-narrow-scan shape as text_quality (sf1 4.3 s on
    # 1 core) — widen first.
    d = widen_if_narrow(load(spark, sf_dir, "documents"), "doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example or +1 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" ssn 123-45-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    counts = pii_counts(aug)
    return d.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_ids"].alias("n_ids"),
        F.md5(redact_pii(aug)).alias("redacted_md5"),
    )


@query(
    "embedding_normalize_trunc",
    """
    WITH dv AS (SELECT vec_id, (CAST(embedding AS DOUBLE[]))[1:16] AS t FROM embeddings),
    n AS (SELECT vec_id, t,
                 sqrt(list_reduce(list_transform(t, x -> x*x), (a,b) -> a+b)) AS norm
          FROM dv)
    SELECT vec_id, ROUND(norm, 6) AS norm16,
           ROUND(list_reduce(t, (a,b) -> a+b) / norm, 6) AS unit_sum
    FROM n
    """,
)
def embedding_normalize_trunc_q(spark, sf_dir):
    # Matryoshka truncation + L2 normalization — the standard embedding
    # prep before cosine ANN (truncate to the leading 16 dims, renormalize
    # to unit length so dot product == cosine).  Pure Catalyst array fold
    # in DOUBLE with a left-to-right sum on BOTH engines (Spark
    # F.aggregate ≡ DuckDB list_reduce), so the float arithmetic is
    # bit-reproducible; zero shuffle, fuses into the scan like the int8
    # quantizer.  The oracle reduces vectors to (norm, normalized-sum)
    # scalars for the hash compare.
    e = load(spark, sf_dir, "embeddings")
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    t16 = F.slice(dv, 1, 16)
    norm = F.sqrt(F.aggregate(t16, F.lit(0.0), lambda a, x: a + x * x))
    unit_sum = F.aggregate(t16, F.lit(0.0), lambda a, x: a + x) / norm
    return e.select(
        "vec_id", F.round(norm, 6).alias("norm16"), F.round(unit_sum, 6).alias("unit_sum")
    )


def _jl_col_exprs(in_dims: int = 64, out_dims: int = 16) -> list[str]:
    """The per-target-dim DuckDB expressions (over a DOUBLE[] column
    ``v``) mirroring operators/similarity.py::random_projection,
    generated from the SAME deterministic sign matrix (jl_signs) so the
    two engines cannot drift — the literal-inlined analogue of the
    broadcast codebook pattern."""
    import math

    from datafusion_bigtable_spark.operators.similarity import jl_signs

    scale = repr(math.sqrt(out_dims))
    exprs = []
    for row in jl_signs(in_dims, out_dims):
        lits = ", ".join("1.0" if s > 0 else "-1.0" for s in row)
        exprs.append(
            f"ROUND(list_reduce(list_transform(generate_series(1, {in_dims}), "
            f"i -> v[i] * ([{lits}][i])), (a, b) -> a + b) / {scale}, 6)"
        )
    return exprs


def _jl_oracle_sql(in_dims: int = 64, out_dims: int = 16) -> str:
    cols = [f"{e} AS p{j}" for j, e in enumerate(_jl_col_exprs(in_dims, out_dims))]
    return (
        "WITH dv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)\n"
        "SELECT vec_id,\n  " + ",\n  ".join(cols) + "\nFROM dv"
    )


@query("embedding_random_projection", _jl_oracle_sql())
def embedding_random_projection_q(spark, sf_dir):
    # Johnson-Lindenstrauss ±1 projection 64 -> 16 dims
    # (operators/similarity.py::random_projection) — the standard
    # dimensionality-reduction prep before ANN/dedup at scale.
    # Matrix-free (deterministic sign formula inlined as literals on
    # both engines), shuffle-free (per-row Catalyst folds fused into
    # the scan), left-to-right float folds for bit-reproducibility;
    # one rounded double column per target dim keeps the hash compare
    # on top-level floats.
    from datafusion_bigtable_spark.operators.similarity import random_projection

    return random_projection(load(spark, sf_dir, "embeddings"), out_dims=16, in_dims=64)


def _jl_topk_oracle_sql() -> str:
    proj_list = ", ".join(_jl_col_exprs(64, 16))
    return f"""
    WITH dv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pr AS (SELECT vec_id, [{proj_list}] AS p FROM dv),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(q.p, c.p), 6) AS score
      FROM pr q JOIN pr c ON q.vec_id <> c.vec_id
      WHERE q.vec_id % 100 = 0 AND q.vec_id < 2000)
    SELECT query_id, neighbor_id, score, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= 5
    """


@query("sim_topk_projected", _jl_topk_oracle_sql())
def sim_topk_projected_q(spark, sf_dir):
    # The composition embedding_random_projection exists FOR: exact
    # cosine top-k in the 16-dim JL space — 4x fewer multiplies per
    # scored pair (and 4x less candidate shuffle traffic when composed
    # with the bucketed paths) at JL-bounded recall loss vs the 64-dim
    # search.  Scoring runs on the ROUNDED projections so engine and
    # oracle see bit-identical inputs; the query set carries the same
    # absolute bound as the rest of the sim family.
    from datafusion_bigtable_spark.operators.similarity import (
        random_projection,
        topk_bruteforce,
    )

    e = load(spark, sf_dir, "embeddings")
    proj = random_projection(e, out_dims=16, in_dims=64)
    pe = proj.select(
        "vec_id", F.array(*[F.col(f"p{j}") for j in range(16)]).alias("embedding")
    )
    return topk_bruteforce(pe, _sim_query_pred(), k=5)


@query(
    "fk_orphan_audit",
    """
    SELECT 'lineitem.l_orderkey->orders' AS fk,
           (SELECT COUNT(*) FROM lineitem) AS n_child,
           (SELECT COUNT(*) FROM lineitem c
             WHERE NOT EXISTS (SELECT 1 FROM orders p WHERE p.o_orderkey = c.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders c
             WHERE NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.o_custkey))
    UNION ALL
    SELECT 'events.user_id->customer',
           (SELECT COUNT(*) FROM events),
           (SELECT COUNT(*) FROM events c
             WHERE NOT EXISTS (SELECT 1 FROM customer p WHERE p.c_custkey = c.user_id))
    """,
)
def fk_orphan_audit_q(spark, sf_dir):
    # Referential-integrity audit — the pre-flight a 100 TB pipeline runs
    # before joining fact tables: per declared FK, the child count and the
    # orphan count via broadcast LEFT ANTI join (parent key sets are
    # dimension-sized → broadcast; the child never shuffles).  All-zero
    # orphans over this testdata is the assertion, not a triviality: the
    # same query is the canary when an ingest drops a dimension partition.
    def audit(fk, child, ckey, parent, pkey):
        c = load(spark, sf_dir, child)
        p = load(spark, sf_dir, parent).select(pkey)
        orphans = c.join(F.broadcast(p), c[ckey] == p[pkey], "left_anti")
        return c.select(
            F.lit(fk).alias("fk"), F.count("*").alias("n_child")
        ).crossJoin(orphans.select(F.count("*").alias("n_orphans")))

    return (
        audit("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey")
        .unionAll(audit("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"))
        .unionAll(audit("events.user_id->customer", "events", "user_id", "customer", "c_custkey"))
    )


@query(
    "numeric_histogram_prices",
    """
    WITH st AS (SELECT MIN(l_extendedprice) lo, MAX(l_extendedprice) hi FROM lineitem)
    SELECT LEAST(19, CAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 20)) AS BIGINT)) AS bucket,
           COUNT(*) AS n
    FROM lineitem, st GROUP BY 1
    """,
)
def numeric_histogram_q(spark, sf_dir):
    # Equi-width histogram (the profiling/data-quality staple) as the
    # two-phase plan that scales: a 1-row min/max aggregate BROADCAST back
    # over the fact scan (no second shuffle for the bounds), bucket as a
    # scan-fused projection, then ONE partial-aggregated groupBy on the 20
    # bucket ids.  The fact table is scanned twice but shuffled once, and
    # the second scan carries only the bucketed column — at 100 TB the
    # alternative (exact percentile sort) is a full-data sort.
    li = load(spark, sf_dir, "lineitem")
    stats = F.broadcast(
        li.agg(F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi"))
    )
    width = (F.col("hi") - F.col("lo")) / 20
    bucket = F.least(
        F.lit(19), F.floor((F.col("l_extendedprice") - F.col("lo")) / width).cast("long")
    )
    return (
        li.crossJoin(stats)
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def _zorder_oracle_sql(bits: int = 16) -> str:
    """DuckDB twin of operators/zorder.py::zvalue over (l_orderkey,
    l_partkey) with data-derived bounds — the interleave terms are
    generated from the same loop shape as the Spark expression so the two
    engines cannot drift."""

    def code(x, lo, hi):
        return (
            f"LEAST(65535, GREATEST(0, CAST(FLOOR(({x} - {lo}) * (65535.0 / ({hi} - {lo}))) AS BIGINT)))"
        )

    ca = code("l_orderkey", "lo1", "hi1")
    cb = code("l_partkey", "lo2", "hi2")
    terms = " + ".join(
        f"(((ca >> {i}) % 2) << {2 * i}) + (((cb >> {i}) % 2) << {2 * i + 1})"
        for i in range(bits)
    )
    return f"""
    WITH st AS (SELECT MIN(l_orderkey) lo1, MAX(l_orderkey) hi1,
                       MIN(l_partkey) lo2, MAX(l_partkey) hi2 FROM lineitem),
    c AS (SELECT {ca} AS ca, {cb} AS cb FROM lineitem, st),
    z AS (SELECT {terms} AS z FROM c)
    SELECT z // 16777216 AS zbucket, COUNT(*) AS n FROM z GROUP BY 1
    """


@query("zorder_bucket_counts", _zorder_oracle_sql())
def zorder_bucket_counts_q(spark, sf_dir):
    # Z-order layout verification (operators/zorder.py): Morton-interleave
    # (l_orderkey, l_partkey) into 16-bit-per-dim z-values and count rows
    # per coarse z-bucket (z >> 24, 256 buckets) — hash-verifying the
    # interleave arithmetic bit-for-bit against the oracle.  The bucket id
    # IS the clustering key `cluster_by_zvalue` range-partitions on, so a
    # green here pins the exact layout 100 TB writes would get.  Bounds
    # come from one driver-side min/max row (the same bounded action the
    # IVF codebook trainer uses); the z computation itself is scan-fused
    # integer codegen, zero extra shuffle beyond the bucket groupBy.
    from datafusion_bigtable_spark.operators.zorder import zvalue

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    lo1, hi1, lo2, hi2 = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"), F.min("l_partkey"), F.max("l_partkey")
    ).first()
    z = zvalue(
        [(F.col("l_orderkey"), lo1, hi1), (F.col("l_partkey"), lo2, hi2)], bits=16
    )
    return (
        li.select(F.floor(z / F.lit(16777216)).cast("long").alias("zbucket"))
        .groupBy("zbucket")
        .agg(F.count("*").alias("n"))
    )


@query(
    "winsorize_prices",
    """
    WITH st AS (SELECT quantile_cont(l_extendedprice, 0.01) p01,
                       quantile_cont(l_extendedprice, 0.99) p99 FROM lineitem)
    SELECT l_returnflag,
           ROUND(SUM(GREATEST(p01, LEAST(p99, l_extendedprice))), 2) AS wsum,
           COUNT(*) AS n
    FROM lineitem, st GROUP BY 1
    """,
)
def winsorize_prices_q(spark, sf_dir):
    # Winsorization (p1/p99 outlier clipping) — the numeric-prep staple
    # before training statistics.  EXACT percentiles via distributed order
    # statistics (operators/stats.py: range-repartition + per-partition
    # rank + 2-row filter — the driver sees exactly two rows per quantile
    # at ANY p, and no executor holds more than one range partition;
    # Spark's `percentile` aggregate buffers ALL values in one aggregator,
    # measured 4× slower at sf0.1 and an OOM at 100 TB), interpolated to
    # the same definition as DuckDB quantile_cont so the clip bounds agree
    # bit-for-bit.  Bounds embed as literals; the clip is a scan-fused
    # greatest/least, then one partial-aggregated groupBy.
    from datafusion_bigtable_spark.operators.stats import exact_percentiles

    li = load(spark, sf_dir, "lineitem")
    # both clip bounds through ONE distributed rank-selection pass
    # (sf1 run: the two-pass form cost 4.2 s at 6M rows, ~half of it the
    # second value shuffle)
    p01, p99 = exact_percentiles(li, "l_extendedprice", [0.01, 0.99])
    return (
        li.select(
            F.greatest(
                F.lit(p01), F.least(F.lit(p99), F.col("l_extendedprice"))
            ).alias("w"),
            "l_returnflag",
        )
        .groupBy("l_returnflag")
        .agg(F.round(F.sum("w"), 2).alias("wsum"), F.count("*").alias("n"))
    )


@query(
    "multimodal_png_decode",
    """
    WITH b AS (
      SELECT doc_id,
             list_transform(range(0, 16), i ->
               (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2*i + 1, 1)) - 1) * 16
               + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2*i + 2, 1)) - 1
             ) AS bytes
      FROM documents),
    m AS (SELECT doc_id, list_sum(bytes) / 16.0 AS mu,
                 list_sum(list_transform(bytes, x -> x * x)) / 16.0 AS m2 FROM b)
    SELECT doc_id, 8 AS width, 4 AS height,
           ROUND(mu, 4) AS px_mean, ROUND(sqrt(m2 - mu * mu), 4) AS px_std
    FROM m
    """,
)
def multimodal_png_decode_q(spark, sf_dir):
    # REAL PNG pixel decode through the Spark surface (r6 — closes the
    # PIL-gate on PNG; only JPEG's DCT+Huffman remains gated): per doc a
    # spec-valid 8-bit RGB PNG is ENCODED from md5-derived pixels with all
    # five scanline filters exercised, shipped as a binary column, and
    # DECODED by media_codecs.decode_png_pixels (stdlib zlib inflate +
    # numpy unfilter) inside the Arrow-batched extract_features pipeline.
    # The oracle recomputes the expected pixel statistics from the same
    # digest arithmetic in SQL — so a wrong filter inversion, a dropped
    # byte, or a stats drift all hash-mismatch.  Every stage is mapInPandas
    # over (doc_id) — zero shuffle, embarrassingly parallel at any scale.
    import hashlib as _hl

    import numpy as _np

    from pyspark.sql import types as T

    from datafusion_bigtable_spark.functions.multimodal import extract_features

    docs = load(spark, sf_dir, "documents").select("doc_id")
    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("mime", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        from datafusion_bigtable_spark.functions.media_codecs import build_png_rgb

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                digest = _hl.md5(str(int(did)).encode()).digest()
                px = _np.frombuffer(digest * 6, dtype=_np.uint8).reshape(4, 8, 3)
                payloads.append(build_png_rgb(px, filters=[0, 1, 2, 3, 4]))
            yield pd.DataFrame(
                {"asset_id": pdf["doc_id"], "mime": "image/png", "payload": payloads}
            )

    assets = docs.mapInPandas(gen, schema)
    return extract_features(assets, mode="full").select(
        F.col("asset_id").alias("doc_id"),
        "width",
        "height",
        F.round("content_mean", 4).alias("px_mean"),
        F.round("content_std", 4).alias("px_std"),
    )


@query(
    "multimodal_ahash_dedup",
    """
    WITH base AS (
      SELECT doc_id,
        list_transform(range(0, 64), i ->
          (strpos('0123456789abcdef', substr(md5(CAST(doc_id // 4 AS VARCHAR)
              || CASE WHEN doc_id % 4 = 3 THEN '|alt|' ELSE '|' END
              || CAST(i // 16 AS VARCHAR)), 2 * (i % 16) + 1, 1)) - 1) * 16
          + strpos('0123456789abcdef', substr(md5(CAST(doc_id // 4 AS VARCHAR)
              || CASE WHEN doc_id % 4 = 3 THEN '|alt|' ELSE '|' END
              || CAST(i // 16 AS VARCHAR)), 2 * (i % 16) + 2, 1)) - 1
        ) AS cells
      FROM documents),
    pert AS (
      SELECT doc_id,
        list_transform(range(0, 64), i ->
          CASE WHEN doc_id % 4 = 1 AND i = 0 THEN LEAST(255, cells[i + 1] + 1)
               WHEN doc_id % 4 = 2 AND i % 7 = 0 THEN LEAST(255, cells[i + 1] + 96)
               ELSE cells[i + 1] END) AS cells
      FROM base),
    hb AS (SELECT doc_id, cells, list_sum(cells) AS tot FROM pert),
    bands AS (
      SELECT doc_id, j.j AS band,
        CAST(list_sum(list_transform(range(0, 16), t ->
          CASE WHEN cells[j.j * 16 + t + 1] * 64 > tot
               THEN (CAST(1 AS BIGINT) << t) ELSE 0 END)) AS BIGINT) AS band_val
      FROM hb, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) j),
    hv AS (SELECT doc_id, list(band_val ORDER BY band) AS bv FROM bands GROUP BY doc_id),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
    SELECT c.id_a, c.id_b,
           CAST(bit_count(xor(ha.bv[1], hx.bv[1])) + bit_count(xor(ha.bv[2], hx.bv[2]))
              + bit_count(xor(ha.bv[3], hx.bv[3])) + bit_count(xor(ha.bv[4], hx.bv[4]))
             AS BIGINT) AS hamming
    FROM cand c JOIN hv ha ON ha.doc_id = c.id_a JOIN hv hx ON hx.doc_id = c.id_b
    WHERE bit_count(xor(ha.bv[1], hx.bv[1])) + bit_count(xor(ha.bv[2], hx.bv[2]))
        + bit_count(xor(ha.bv[3], hx.bv[3])) + bit_count(xor(ha.bv[4], hx.bv[4])) <= 3
    """,
)
def multimodal_ahash_dedup_q(spark, sf_dir):
    # Near-duplicate IMAGE detection end-to-end through the Spark surface:
    # per doc a 32x32 grayscale PNG is ENCODED from md5-derived 4x4 cells
    # (docs in the same doc_id//4 group are planted variants: v1 = one
    # cell +1, v2 = every 7th cell +96, v3 = unrelated), DECODED by the
    # real stdlib-zlib+numpy PNG path, average-hashed with division-free
    # integer thresholds (functions/multimodal.py::image_ahash_bands),
    # and paired by the 4-band multi-index hamming join (pigeonhole-exact
    # for hamming <= 3, never an all-pairs scan).  The oracle recomputes
    # hash and pairs closed-form from the same digest arithmetic — a
    # wrong filter inversion, a dropped byte, a float mean, or a recall
    # hole in the band index all hash-mismatch.
    import hashlib as _hl

    import numpy as _np

    from pyspark.sql import types as T

    from datafusion_bigtable_spark.functions.multimodal import ahash_dup_pairs

    # One parquet input split at these sizes and the expensive encode/
    # decode generator inherits it — 1 of 32 cores doing all the pixel
    # work (measured: 30 s of this query's 39 s at sf0.1).  Repartition
    # the SMALL doc_id stream (hash on doc_id: deterministic placement
    # under task retries) before the heavy map.  At real corpus scale the
    # scan has thousands of splits and this is a harmless no-op-sized
    # shuffle; at bench SFs it is the difference between 1-core and
    # 32-core pixel work.  The sibling generator queries (pixel stats,
    # audio spectral) keep the narrow scan: their per-doc work is light
    # (<1 s total) and the split count self-heals at scale.
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("mime", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        from datafusion_bigtable_spark.functions.media_codecs import build_png_rgb

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                g, v = did // 4, did % 4
                salt = "|alt|" if v == 3 else "|"
                raw = b"".join(
                    _hl.md5(f"{g}{salt}{j}".encode()).digest() for j in range(4)
                )
                cells = _np.frombuffer(raw, dtype=_np.uint8).astype(_np.int64).copy()
                if v == 1:
                    cells[0] = min(255, cells[0] + 1)
                elif v == 2:
                    cells[::7] = _np.minimum(255, cells[::7] + 96)
                px32 = _np.kron(
                    cells.reshape(8, 8), _np.ones((4, 4), dtype=_np.int64)
                ).astype(_np.uint8)
                rgb = _np.stack([px32] * 3, axis=-1)
                payloads.append(build_png_rgb(rgb, filters=[0, 1, 2, 3, 4]))
            yield pd.DataFrame(
                {"asset_id": pdf["doc_id"], "mime": "image/png", "payload": payloads}
            )

    assets = docs.mapInPandas(gen, schema)
    return ahash_dup_pairs(assets, max_hamming=3)


@query(
    "multimodal_jpeg_decode",
    """
    WITH v AS (
      SELECT doc_id,
             list_transform(range(0, 4), b ->
               2 * ((doc_id * (3 + b) + 17 * b) % 128)) AS vals
      FROM documents WHERE doc_id % 7 = 0),
    m AS (SELECT doc_id, list_sum(vals) / 4.0 AS mu,
                 list_sum(list_transform(vals, x -> x * x)) / 4.0 AS m2 FROM v)
    SELECT doc_id, 16 AS width, 16 AS height,
           ROUND(mu, 2) AS px_mean, ROUND(sqrt(m2 - mu * mu), 2) AS px_std
    FROM m
    """,
)
def multimodal_jpeg_decode_q(spark, sf_dir):
    # Baseline JPEG decode through the Spark surface (r6, exact oracle r7;
    # functions/jpeg_codec.py — full Huffman+IDCT in numpy; no PIL): per
    # doc a spec-valid 4:2:0 JPEG is encoded from doc_id-derived pixels,
    # shipped as a binary column, and decoded by
    # extract_features(mode="full").  JPEG is lossy in general, so the
    # images are chosen INSIDE the quantization lattice: four flat 8×8
    # gray blocks per 16×16 image, values even.  A flat block's FDCT is
    # DC-only with DC = 8·(v−128); luma Q00 = 16, so the quantized DC is
    # (v−128)/2 exactly when v is even and dequant+IDCT reproduces v
    # bit-for-bit (gray ⇒ chroma planes are flat 128 ⇒ DC 0 ⇒ exact
    # through 2×2 downsample, replication upsample, and the YCbCr↔RGB
    # round trip — verified exhaustively in tests/test_jpeg_codec.py).
    # The bitstream still exercises the real decode machinery: Huffman DC
    # categories both signs via cross-block DC prediction, EOB AC coding,
    # byte-stuffing, the interleaved 4:2:0 MCU walk, and upsampling.
    # Pixel mean/std are then closed-form in the four block values, so the
    # DuckDB oracle recomputes them arithmetically from doc_id — the stats
    # are EXACT doubles on both sides (all intermediates are dyadic
    # rationals below 2^53), not approximately-rounded agreement.  Same
    # zero-shuffle mapInPandas shape as the PNG twin.  A deterministic
    # 1-in-7 doc subset bounds the encode+decode cost (the machinery is
    # identical per image; decoding 5000 instead of ~714 proves nothing
    # more and tripled the bench line).
    import numpy as _np

    from pyspark.sql import types as T

    from datafusion_bigtable_spark.functions.multimodal import extract_features
    from datafusion_bigtable_spark.operators.partitioning import widen_if_narrow

    # r13 (VERDICT r12 #7): the narrow fixture scan starves the encode+
    # decode maps — same shape widen_if_narrow fixed for the text tier.
    docs = widen_if_narrow(
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id"),
        "doc_id",
    )
    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("mime", T.StringType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        from datafusion_bigtable_spark.functions.jpeg_codec import (
            build_jpeg_rgb,
            build_jpeg_rgb_progressive,
        )

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                did = int(did)
                px = _np.zeros((16, 16, 3), dtype=_np.uint8)
                for b in range(4):
                    v = 2 * ((did * (3 + b) + 17 * b) % 128)
                    r, c = divmod(b, 2)
                    px[r * 8 : (r + 1) * 8, c * 8 : (c + 1) * 8, :] = v
                # 4:2:0 — the real-world-default subsampled MCU layout.
                # Every 4th doc containerizes as PROGRESSIVE (SOF2, r8):
                # same quantized coefficients, so the exact DCT oracle
                # holds unchanged while the driver gate live-fires the
                # successive-approximation decode path too (18 of 72 docs
                # at sf0.01; a half share measured 1.95x the query's
                # first-recorded bench time — the multi-scan pure-Python
                # encode, not the decode, is the cost).
                enc = (
                    build_jpeg_rgb_progressive
                    if (did // 7) % 4 == 1
                    else build_jpeg_rgb
                )
                payloads.append(enc(px, subsample=True))
            yield pd.DataFrame(
                {"asset_id": pdf["doc_id"], "mime": "image/jpeg", "payload": payloads}
            )

    assets = docs.mapInPandas(gen, schema)
    return extract_features(assets, mode="full").select(
        F.col("asset_id").alias("doc_id"),
        "width",
        "height",
        F.round("content_mean", 2).alias("px_mean"),
        F.round("content_std", 2).alias("px_std"),
    )


@query(
    "multimodal_audio_spectral",
    """
    SELECT doc_id,
           8000 AS sample_rate,
           CAST(200 + (doc_id % 30) * 100 AS BIGINT) AS freq_hz,
           CAST(200 + (doc_id % 30) * 100 AS BIGINT) AS centroid_hz,
           CAST(200 + (doc_id % 30) * 100 AS BIGINT) AS rolloff_hz
    FROM documents
    """,
)
def multimodal_audio_spectral_q(spark, sf_dir):
    # REAL audio DSP through the Spark surface (r6): per doc a 1-second
    # 16-bit PCM sine at a doc-derived frequency is built, containerized
    # as WAV, decoded back, and run through the numpy rFFT spectral
    # extractor (media_codecs.audio_spectral_features).  The oracle is
    # ANALYTIC: a pure on-bin sine has all its power in one FFT bin, so
    # the measured centroid and 85% rolloff must land exactly on the
    # generator frequency after integer rounding — a wrong window, an
    # off-by-one bin map, or a broken PCM decode all hash-mismatch.
    # Zero-shuffle mapInPandas, like the image twins.
    import numpy as _np

    from pyspark.sql import types as T

    from datafusion_bigtable_spark.functions.media_codecs import (
        audio_spectral_features,
        build_pcm_sine,
        build_wav,
        decode_wav_samples,
    )
    from datafusion_bigtable_spark.operators.partitioning import widen_if_narrow

    # r13 (VERDICT r12 #7): the heaviest multimodal query at sf1 (16.0 s,
    # 7.2× on 10× data) was an expensive per-row FFT map downstream of a
    # 2-partition fixture scan — widen before the map.
    docs = widen_if_narrow(load(spark, sf_dir, "documents").select("doc_id"), "doc_id")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("freq_hz", T.LongType()),
            T.StructField("centroid_hz", T.LongType()),
            T.StructField("rolloff_hz", T.LongType()),
        ]
    )

    def op(batches):
        import pandas as pd

        rate = 8000
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "sample_rate", "freq_hz", "centroid_hz", "rolloff_hz")}
            for did in pdf["doc_id"]:
                f = 200.0 + (int(did) % 30) * 100.0
                wav = build_wav(rate, 1, build_pcm_sine(rate, 1, rate, freq=f))
                samples, r = decode_wav_samples(wav)
                feats = audio_spectral_features(samples, r)
                rows["doc_id"].append(int(did))
                rows["sample_rate"].append(r)
                rows["freq_hz"].append(int(f))
                rows["centroid_hz"].append(round(feats["spectral_centroid_hz"]))
                rows["rolloff_hz"].append(round(feats["spectral_rolloff_hz"]))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(op, schema)


@query(
    "text_boilerplate_ngrams",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS w
      FROM documents),
    g AS (
      SELECT doc_id, array_to_string(w[i:i+2], ' ') AS gram
      FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) s
      WHERE len(w) >= 3),
    df AS (SELECT gram FROM g GROUP BY gram
           HAVING COUNT(DISTINCT doc_id) >=
                  GREATEST(2, CEIL(0.01 * (SELECT COUNT(DISTINCT doc_id) FROM documents)))),
    st AS (
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS total_ngrams,
             CAST(SUM(CASE WHEN df.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS boilerplate_ngrams
      FROM g LEFT JOIN df USING (gram) GROUP BY g.doc_id)
    SELECT doc_id, total_ngrams, boilerplate_ngrams,
           boilerplate_ngrams * 5 >= total_ngrams AS flagged
    FROM st
    """,
)
def text_boilerplate_q(spark, sf_dir):
    # Cross-document boilerplate n-gram gate (operators/boilerplate.py) —
    # the delimiter-free analogue of C4/RefinedWeb line-level dedup: a
    # trigram in >= max(2, ceil(1% of docs)) distinct docs is boilerplate
    # (corpus-RELATIVE, so the threshold tracks corpus size — at sf0.01's
    # 500 docs this resolves to the same 5 as the old absolute knob); docs
    # >= 20% boilerplate flag.  One n-gram shuffle (map-side partial
    # countDistinct); the heavy-hitter set joins back WITHOUT a forced
    # broadcast — AQE broadcasts only when its measured size fits, with a
    # gram-key shuffle join as the 100 TB fallback.  The flag is integer
    # arithmetic (no float threshold against the oracle).
    from datafusion_bigtable_spark.operators.boilerplate import boilerplate_ngram_stats

    return boilerplate_ngram_stats(
        load(spark, sf_dir, "documents"),
        n=3,
        min_df_frac=0.01,
        frac_num=1,
        frac_den=5,
    )


@query(
    "embedding_cluster_outliers",
    """
    WITH ex AS (
      SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s),
    cent AS (
      SELECT label, list(a ORDER BY pos) AS cvec
      FROM (SELECT label, pos, AVG(v) AS a FROM ex GROUP BY label, pos)
      GROUP BY label)
    SELECT e.vec_id, e.label,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6)
             AS centroid_cosine,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) < 0.0
             AS is_outlier
    FROM embeddings e JOIN cent c USING (label)
    """,
)
def embedding_cluster_outliers_q(spark, sf_dir):
    # Semantic curation gate (operators/similarity.py::
    # centroid_outlier_scores): cosine of every vector to its own label
    # centroid, negatives flagged as outliers.  Centroids reduce through a
    # (label, pos) partial-aggregated shuffle (traffic = n_labels x dims
    # per partition) and broadcast back — raw vectors never shuffle.
    from datafusion_bigtable_spark.operators.similarity import centroid_outlier_scores

    return centroid_outlier_scores(load(spark, sf_dir, "embeddings"), threshold=0.0)


# =========================================================================
# Round-11 additions: line-level dedup rewrite, filtered ANN, pack report
# =========================================================================


@query(
    "text_line_dedup",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '') AS w
      FROM documents),
    tt AS (
      SELECT doc_id, w, CAST(ceil(len(w) / 4.0) AS INT) AS n_lines
      FROM t WHERE len(w) > 0),
    seg AS (
      SELECT doc_id, n_lines, i AS seg_idx,
             array_to_string(w[(i*4+1):(i*4+4)], ' ') AS line
      FROM tt, LATERAL (SELECT unnest(range(n_lines)) AS i) u),
    counted AS (
      SELECT *, COUNT(*) OVER (PARTITION BY line) AS df FROM seg)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS kept_lines,
           CAST(ANY_VALUE(n_lines) - COUNT(*) AS BIGINT) AS dropped_lines,
           string_agg(line, ' ' ORDER BY seg_idx) AS kept_text
    FROM counted WHERE df < 3
    GROUP BY doc_id
    """,
)
def text_line_dedup_q(spark, sf_dir):
    # C4-style repeated-line removal (operators/dedup.py::line_dedup):
    # every 4-word line occurring >= 3 times corpus-wide is cut from all
    # its documents, and each document is rebuilt from its surviving
    # lines in order (drops ~3% of lines at the tested SFs).  The
    # REWRITE twin of text_boilerplate_ngrams' document GATE.  Two
    # exchanges: one window count on the line key, one doc-key rebuild.
    from datafusion_bigtable_spark.operators.dedup import line_dedup

    return line_dedup(load(spark, sf_dir, "documents"), line_words=4, min_df=3)


@query(
    "sim_topk_filtered",
    """
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS score
      FROM embeddings q JOIN embeddings c
        ON q.vec_id <> c.vec_id AND c.label = 3
      WHERE q.vec_id % 100 = 0 AND q.vec_id < 2000)
    SELECT query_id, neighbor_id, score, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= 5
    """,
)
def sim_topk_filtered_q(spark, sf_dir):
    # Metadata-filtered vector search — the retrieval shape every vector
    # store serves ("top-k among label=3 only").  PRE-filter semantics:
    # the corpus predicate is applied BEFORE scoring, so recall within
    # the filtered set is exact at any selectivity (post-filtering a
    # global top-k can return < k survivors).  The label predicate is a
    # Catalyst filter pushed to the parquet scan; the exact scorer then
    # runs on the ~10%-selectivity survivor set — linear in the filtered
    # corpus with the absolute-bounded query set (_sim_query_pred).  At
    # lower selectivity swap the scorer for topk_ivf on the SAME
    # filtered frame (the operators compose); brute force on the
    # filtered set is the exact baseline and the right default at <=
    # few-million survivors.
    from datafusion_bigtable_spark.operators.similarity import topk_bruteforce

    e = load(spark, sf_dir, "embeddings")
    return topk_bruteforce(e, _sim_query_pred(), k=5, corpus_pred=F.col("label") == 3)


@query(
    "corpus_pack_utilization",
    """
    WITH t AS (
      SELECT source, doc_id,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS tokens
      FROM documents),
    c AS (
      SELECT source, doc_id, tokens,
             SUM(tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
      FROM t),
    packs AS (
      SELECT source, CAST(FLOOR((cum - tokens) / 256.0) AS BIGINT) AS pack_id,
             COUNT(*) AS n_docs, SUM(tokens) AS pack_tokens
      FROM c GROUP BY source, pack_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_packs,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           ROUND(AVG(n_docs), 4) AS avg_docs_per_pack,
           ROUND(AVG(pack_tokens), 4) AS avg_pack_tokens,
           ROUND(AVG(pack_tokens) / 256.0, 4) AS fill_ratio,
           ROUND(AVG(CASE WHEN pack_tokens > 256 THEN 1.0 ELSE 0.0 END), 4)
             AS overflow_frac
    FROM packs GROUP BY source
    """,
)
def corpus_pack_utilization_q(spark, sf_dir):
    # Packing-efficiency report over corpus_pack_sequences' assignment:
    # per source, how full the 256-token packs run and how often a doc
    # straddles the cap (the overflow a trainer either truncates or
    # spills).  This is the diagnostic that picks the target sequence
    # length BEFORE burning a 100 TB packing pass.  Same single window
    # shuffle as the packer plus one tiny per-source aggregate.
    from datafusion_bigtable_spark.functions.text import whitespace_token_count

    d = load(spark, sf_dir, "documents").select(
        "source", "doc_id", whitespace_token_count(F.col("text")).alias("tokens")
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    packs = (
        d.withColumn("cum", F.sum("tokens").over(w))
        .select(
            "source",
            F.floor((F.col("cum") - F.col("tokens")) / 256.0).cast("long").alias("pack_id"),
            "tokens",
        )
        .groupBy("source", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("tokens").alias("pack_tokens"))
    )
    return packs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_packs"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.round(F.avg("n_docs"), 4).alias("avg_docs_per_pack"),
        F.round(F.avg("pack_tokens"), 4).alias("avg_pack_tokens"),
        F.round(F.avg("pack_tokens") / 256.0, 4).alias("fill_ratio"),
        F.round(
            F.avg(F.when(F.col("pack_tokens") > 256, F.lit(1.0)).otherwise(F.lit(0.0))), 4
        ).alias("overflow_frac"),
    )


@query(
    "dedup_keep_best_quality",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    mh AS (
      SELECT id, s.seed, MIN(md5(CAST(s.seed AS VARCHAR) || '|' || shingle)) AS minhash
      FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) s
      GROUP BY id, s.seed),
    banded AS (
      SELECT id, CAST(seed // 2 AS INT) AS band,
             string_agg(minhash, ',' ORDER BY minhash) AS band_sig
      FROM mh GROUP BY id, seed // 2),
    pairs AS (
      SELECT DISTINCT a.id AS pa, b.id AS pb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id),
    edges AS (SELECT pa AS a, pb AS b FROM pairs UNION SELECT pb, pa FROM pairs),
    reach AS (
      SELECT a AS id, b AS r FROM edges
      UNION
      SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
    comp AS (SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id),
    member AS (
      SELECT d.doc_id, d.n_chars, COALESCE(c.component, d.doc_id) AS cluster
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
    SELECT cluster, n_members, doc_id AS kept_doc_id, kept_chars FROM (
      SELECT cluster, doc_id, n_chars AS kept_chars,
             CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_members,
             ROW_NUMBER() OVER (PARTITION BY cluster
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM member) t WHERE rn = 1
    """,
)
def dedup_keep_best_quality_q(spark, sf_dir):
    # Quality-ranked canonical selection — the OTHER dedup output policy
    # next to dedup_keep_canonical's min-id: keep each near-dup cluster's
    # LONGEST member (RefinedWeb/FineWeb keep-best; n_chars is the
    # deterministic cross-engine quality score, ties to min doc_id).
    # Composition of shipped operators: LSH candidate pairs → connected
    # components → per-cluster argmax.  Singletons are their own cluster
    # via a broadcast left join of the (tiny — dup members only) component
    # map; the argmax is one window shuffle on the cluster key, whose
    # groups are near-dup clusters (bounded small by construction).
    from datafusion_bigtable_spark.operators.dedup import lsh_candidate_pairs
    from datafusion_bigtable_spark.operators.graph import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, bands=4, rows_per_band=2, k=3)
    comp = connected_components(pairs)
    member = docs.select("doc_id", "n_chars").join(
        F.broadcast(comp), F.col("doc_id") == F.col("id"), "left"
    ).select(
        "doc_id", "n_chars", F.coalesce("component", F.col("doc_id")).alias("cluster")
    )
    w = W.partitionBy("cluster").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = member.select(
        "cluster",
        "doc_id",
        F.col("n_chars").alias("kept_chars"),
        F.count("*").over(W.partitionBy("cluster")).cast("long").alias("n_members"),
        F.row_number().over(w).alias("rn"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster", "n_members", F.col("doc_id").alias("kept_doc_id"), "kept_chars"
    )


@query(
    "dedup_incremental_ingest",
    f"""
    WITH {_SHINGLES_CTE},
    mh AS (
      SELECT id, s.seed, MIN(md5(CAST(s.seed AS VARCHAR) || '|' || shingle)) AS minhash
      FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) s
      GROUP BY id, s.seed),
    banded AS (
      SELECT id, CAST(seed // 2 AS INT) AS band,
             string_agg(minhash, ',' ORDER BY minhash) AS band_sig
      FROM mh GROUP BY id, seed // 2),
    cand AS (
      SELECT DISTINCT a.id AS nid, b.id AS xid
      FROM banded a JOIN banded b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.id % 10 = 0 AND b.id % 10 <> 0),
    inter AS (
      SELECT c.nid, c.xid, COUNT(*) AS n_inter
      FROM cand c
        JOIN sh sa ON sa.id = c.nid
        JOIN sh sb ON sb.id = c.xid AND sb.shingle = sa.shingle
      GROUP BY c.nid, c.xid),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id)
    SELECT nid AS new_doc_id, xid AS matched_doc_id,
           ROUND(n_inter / CAST(na.n + nb.n - n_inter AS DOUBLE), 4) AS jaccard
    FROM inter JOIN sizes na ON na.id = nid JOIN sizes nb ON nb.id = xid
    WHERE ROUND(n_inter / CAST(na.n + nb.n - n_inter AS DOUBLE), 4) >= 0.5
    """,
)
def dedup_incremental_ingest_q(spark, sf_dir):
    # Ingestion-time dedup (operators/dedup.py::incremental_ingest_dedup):
    # which INCOMING docs (doc_id % 10 == 0 stands in for the day's batch)
    # near-duplicate the EXISTING corpus — the new-vs-index LSH analogue
    # of decontaminate_vs_benchmark's exact anti-join.  Band signatures
    # join batch→index (AQE broadcasts the small batch side: the index
    # never shuffles, so per-batch cost is O(batch + collisions), not
    # O(corpus)); candidates verify with exact Jaccard over candidate
    # shingle sets only.
    from datafusion_bigtable_spark.operators.dedup import incremental_ingest_dedup

    d = load(spark, sf_dir, "documents")
    return incremental_ingest_dedup(d, F.col("doc_id") % 10 == 0, threshold=0.5)


@query(
    "table_profile_lineitem",
    """
    SELECT 'l_quantity' AS column_name, COUNT(*) AS n_rows,
           CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
           ROUND(MIN(l_quantity), 2) AS min_num, ROUND(MAX(l_quantity), 2) AS max_num
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', COUNT(*),
           CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
           CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
           ROUND(MIN(l_extendedprice), 2), ROUND(MAX(l_extendedprice), 2)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', COUNT(*),
           CAST(COUNT(*) - COUNT(l_discount) AS BIGINT),
           CAST(COUNT(DISTINCT l_discount) AS BIGINT),
           ROUND(MIN(l_discount), 2), ROUND(MAX(l_discount), 2)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', COUNT(*),
           CAST(COUNT(*) - COUNT(l_tax) AS BIGINT),
           CAST(COUNT(DISTINCT l_tax) AS BIGINT),
           ROUND(MIN(l_tax), 2), ROUND(MAX(l_tax), 2)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', COUNT(*),
           CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT),
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT), NULL, NULL
    FROM lineitem
    UNION ALL
    SELECT 'l_linestatus', COUNT(*),
           CAST(COUNT(*) - COUNT(l_linestatus) AS BIGINT),
           CAST(COUNT(DISTINCT l_linestatus) AS BIGINT), NULL, NULL
    FROM lineitem
    """,
)
def table_profile_q(spark, sf_dir):
    # Data-profiling pass (the Deequ/TFDV-style pre-training audit):
    # per-column row count, null count, EXACT distinct count, and rounded
    # numeric min/max — the report a pipeline reads before trusting a new
    # table drop.  One aggregation EXPRESSION, planned by Spark's
    # distinct-rewrite as an Expand x |distinct columns| leg plus a plain
    # min/max/count leg (measured plan at sf0.1: 2 scans, 4 exchanges —
    # NOT the 7-scan union of per-column jobs the naive form costs; the
    # r3 mixed-sketch trap does not apply since no imperative sketch
    # buffers share the expand).  The single wide row unpivots via
    # stack().  At 100 TB swap the exact distincts for
    # approx_count_distinct (the profile tools' own default), which also
    # collapses the expand leg back into one scan.
    num_cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    str_cols = ["l_returnflag", "l_linestatus"]
    li = load(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in num_cols + str_cols:
        aggs.append(F.count(F.col(c)).alias(f"cnt__{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"nd__{c}"))
    for c in num_cols:
        aggs.append(F.round(F.min(c), 2).alias(f"mn__{c}"))
        aggs.append(F.round(F.max(c), 2).alias(f"mx__{c}"))
    wide = li.agg(*aggs)
    parts = []
    for c in num_cols:
        parts.append(
            f"'{c}', n_rows, CAST(n_rows - cnt__{c} AS BIGINT), nd__{c}, mn__{c}, mx__{c}"
        )
    for c in str_cols:
        parts.append(
            f"'{c}', n_rows, CAST(n_rows - cnt__{c} AS BIGINT), nd__{c}, "
            "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
        )
    n = len(parts)
    return wide.selectExpr(
        f"stack({n}, {', '.join(parts)}) AS "
        "(column_name, n_rows, n_null, n_distinct, min_num, max_num)"
    )


@query("streaming_ingest_dedup", None)  # oracle bound below (= batch twin's)
def streaming_ingest_dedup_q(spark, sf_dir):
    # Ingestion dedup ON THE STREAM (streaming/cells_stream.py::
    # streaming_ingest_dedup): the incoming-doc feed (doc_id % 10) LSH-
    # matched per micro-batch against the static corpus index.  The
    # minhash pipeline is re-expressed as stateless per-row array
    # expressions (identical md5 minima to the batch explode+groupBy
    # form), candidates come from a stream-static band join, Jaccard
    # verifies per row via array_intersect, and the only state is the
    # pair-key dropDuplicates — so the streamed matches equal the batch
    # operator EXACTLY: the oracle IS dedup_incremental_ingest's SQL.
    from datafusion_bigtable_spark.streaming import run_events_stream_to_memory

    name = "dbs_stream_ingest_" + str(abs(hash(sf_dir)) % 10**8)
    return run_events_stream_to_memory(spark, sf_dir, agg="ingest_dedup", query_name=name)


REGISTRY["streaming_ingest_dedup"] = QuerySpec(
    streaming_ingest_dedup_q, REGISTRY["dedup_incremental_ingest"].sql
)


@query(
    "events_asof_view_tolerance",
    """
    WITH c AS (SELECT user_id, epoch_us(ts) AS t, event_id FROM events WHERE event_type = 'click'),
    v AS (SELECT user_id, epoch_us(ts) AS t, event_id, value FROM events WHERE event_type = 'view'),
    u AS (
      SELECT user_id AS k, t, 1 AS is_l, event_id,
             CAST(NULL AS BIGINT) AS vid, CAST(NULL AS DOUBLE) AS vval
      FROM c
      UNION ALL
      SELECT user_id, t, 0, NULL, event_id, value FROM v),
    f AS (
      SELECT *,
        LAST_VALUE(CASE WHEN is_l = 0 THEN {'rts': t, 'vid': vid, 'vval': vval} END
                   IGNORE NULLS) OVER w AS m
      FROM u
      WINDOW w AS (PARTITION BY k ORDER BY t, is_l, vid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_id AS click_id, k AS user_id, t AS ts_us,
           CASE WHEN m IS NOT NULL AND t - m.rts <= 21600000000 THEN m.vid END AS view_id,
           CASE WHEN m IS NOT NULL AND t - m.rts <= 21600000000
                THEN ROUND(m.vval, 4) END AS view_value
    FROM f WHERE is_l = 1
    """,
)
def events_asof_view_tolerance_q(spark, sf_dir):
    # As-of join with a STALENESS BOUND (pandas merge_asof tolerance= at
    # cluster scale): each click attributes to the user's latest prior
    # view only if it is at most 6 h old — older matches revert to NULL,
    # the feature-store "freshest value, but never stale" contract.  Same
    # one-shuffle union+window shape as events_asof_last_order; the bound
    # is a row-local gate on a carried matched-timestamp, zero extra
    # shuffles (operators/temporal.py::asof_join tolerance=).
    from datafusion_bigtable_spark.operators.temporal import asof_join

    epoch = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"
    ev = load(spark, sf_dir, "events")
    us = F.timestamp_diff("MICROSECOND", F.expr(epoch), F.col("ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", us.alias("ts_us")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", us.alias("v_us"), F.col("event_id").alias("view_id"), F.col("value")
    )
    out = asof_join(
        clicks,
        views,
        left_key="user_id",
        right_key="user_id",
        left_ts="ts_us",
        right_ts="v_us",
        right_values=("view_id", "value"),
        right_tie="view_id",
        tolerance=6 * 3600 * 1_000_000,
    )
    return out.select(
        "click_id",
        "user_id",
        "ts_us",
        "view_id",
        F.round("value", 4).alias("view_value"),
    )


@query(
    "events_asof_last_order",
    """
    WITH u AS (
      SELECT user_id AS k, epoch_us(ts) AS t, 1 AS is_l, event_id,
             CAST(NULL AS BIGINT) AS okey, CAST(NULL AS DOUBLE) AS tot
      FROM events
      UNION ALL
      SELECT o_custkey, epoch_us(o_orderdate), 0, NULL, o_orderkey, o_totalprice
      FROM orders),
    f AS (
      SELECT *,
        LAST_VALUE(CASE WHEN is_l = 0 THEN {'okey': okey, 'tot': tot} END
                   IGNORE NULLS) OVER (
          PARTITION BY k ORDER BY t, is_l, okey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
      FROM u)
    SELECT event_id, k AS user_id, t AS ts_us,
           m.okey AS asof_order_key, ROUND(m.tot, 2) AS asof_total
    FROM f WHERE is_l = 1
    """,
)
def events_asof_last_order_q(spark, sf_dir):
    # Distributed as-of join (operators/temporal.py::asof_join — the
    # pandas merge_asof shape at cluster scale): each event picks up the
    # user's LATEST order on-or-before the event instant (ties toward the
    # greatest orderkey), NULLs when no order precedes.  The union+window
    # form costs ONE key shuffle and emits exactly |events| rows — a
    # range join would materialize every (event, earlier-order) pair
    # first, all dominated work for "latest prior" semantics.  Timestamps
    # cross the union as epoch-µs longs (ntz/ltz-mix coercion is
    # engine-dependent; integers are not).
    from datafusion_bigtable_spark.operators.temporal import asof_join

    epoch = "TIMESTAMP_NTZ'1970-01-01 00:00:00'"
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.timestamp_diff("MICROSECOND", F.expr(epoch), F.col("ts")).alias("ts_us"),
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.timestamp_diff("MICROSECOND", F.expr(epoch), F.col("o_orderdate")).alias("o_us"),
        "o_orderkey",
        "o_totalprice",
    )
    out = asof_join(
        ev,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts_us",
        right_ts="o_us",
        right_values=("o_orderkey", "o_totalprice"),
        right_tie="o_orderkey",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("o_orderkey").alias("asof_order_key"),
        F.round("o_totalprice", 2).alias("asof_total"),
    )


@query(
    "sim_index_upsert",
    """
    WITH seeds AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS sv
      FROM embeddings WHERE vec_id < 16 AND vec_id % 4 <> 0)
    SELECT vec_id, cell FROM (
      SELECT e.vec_id, s.cell,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.sv) DESC,
                        s.cell) AS rn
      FROM embeddings e CROSS JOIN seeds s) t
    WHERE rn = 1
    """,
)
def sim_index_upsert_q(spark, sf_dir):
    # r12 (VERDICT r11 #5): IVF store MAINTENANCE across ingestion rounds —
    # build+save the index on the base corpus (vec_id % 4 <> 0), then
    # upsert_ivf_index the new batch (vec_id % 4 = 0) TWICE: the second
    # call must append nothing (idempotence), old ids stay bit-stable
    # (append-only), and new ids assign against the ORIGINAL saved
    # centroids.  The oracle assigns EVERY vector over the base-derived
    # seed codebook — identical output only if all three contracts hold
    # (a duplicate append or a drifted codebook hash-mismatches).
    import os
    import shutil

    from datafusion_bigtable_spark.operators.similarity import (
        build_ivf_index,
        load_ivf_index,
        save_ivf_index,
        upsert_ivf_index,
    )

    e = load(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") % 4 != 0)
    batch = e.filter(F.col("vec_id") % 4 == 0)
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    tag = _tag_of("ivfup1", os.path.abspath(src), st.st_mtime_ns, st.st_size)
    path = f"/tmp/dbs_ivf_upsert_{os.path.basename(os.path.normpath(sf_dir))}_{tag}"
    # fresh store per call: the append path itself is under test, and a
    # leftover store from a prior run would skip it via idempotence
    shutil.rmtree(path, ignore_errors=True)
    with build_ivf_index(base, n_cells=16) as idx:
        save_ivf_index(idx, path)
    upsert_ivf_index(spark, path, batch)
    upsert_ivf_index(spark, path, batch)  # idempotent: appends 0 rows
    return load_ivf_index(spark, path).assignments.select("vec_id", "cell")


@query(
    "sim_search_after_upsert",
    """
    WITH seeds AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS sv
      FROM embeddings WHERE vec_id < 16 AND vec_id % 4 <> 0),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, s.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.sv) DESC,
                          s.cell) AS rn
        FROM embeddings e CROSS JOIN seeds s) t
      WHERE rn = 1),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS score
      FROM embeddings q
        JOIN assign qa ON qa.vec_id = q.vec_id
        JOIN assign ca ON ca.cell = qa.cell AND ca.vec_id <> q.vec_id
        JOIN embeddings c ON c.vec_id = ca.vec_id
      WHERE q.vec_id % 100 = 0 AND q.vec_id < 2000)
    SELECT query_id, neighbor_id, score, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= 3
    """,
)
def sim_search_after_upsert_q(spark, sf_dir):
    # r12: the user-visible contract of index maintenance — SEARCH over a
    # store that grew by upsert must behave as if the whole corpus had
    # been indexed against the same (base-derived) centroids.  Build+save
    # on vec_id%4<>0, upsert the rest, load, and run the standard
    # nprobe=1 top-3 over the loaded assignments; the oracle scores the
    # FULL corpus under the base-seed assignment, so a missing upserted
    # vector, a drifted codebook, or a duplicate append all
    # hash-mismatch.  Independent content-addressed store (not
    # sim_index_upsert's) so each entry runs standalone.
    import os
    import shutil

    from datafusion_bigtable_spark.operators.similarity import (
        build_ivf_index,
        load_ivf_index,
        save_ivf_index,
        topk_ivf,
        upsert_ivf_index,
    )

    e = load(spark, sf_dir, "embeddings")
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    tag = _tag_of("ivfsearch1", os.path.abspath(src), st.st_mtime_ns, st.st_size)
    path = f"/tmp/dbs_ivf_search_{os.path.basename(os.path.normpath(sf_dir))}_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    with build_ivf_index(e.filter(F.col("vec_id") % 4 != 0), n_cells=16) as idx:
        save_ivf_index(idx, path)
    upsert_ivf_index(spark, path, e.filter(F.col("vec_id") % 4 == 0))
    return topk_ivf(e, _sim_query_pred(), k=3, index=load_ivf_index(spark, path))


@query(
    "sim_index_delete",
    """
    WITH corpus AS (
      SELECT * FROM embeddings WHERE NOT (vec_id % 16 = 3 AND vec_id >= 16)),
    seeds AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS sv
      FROM corpus WHERE vec_id < 16),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, s.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.sv) DESC,
                          s.cell) AS rn
        FROM corpus e CROSS JOIN seeds s) t
      WHERE rn = 1),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS score
      FROM corpus q
        JOIN assign qa ON qa.vec_id = q.vec_id
        JOIN assign ca ON ca.cell = qa.cell AND ca.vec_id <> q.vec_id
        JOIN corpus c ON c.vec_id = ca.vec_id
      WHERE q.vec_id % 100 = 0 AND q.vec_id < 2000)
    SELECT query_id, neighbor_id, score, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rk
      FROM scored) t
    WHERE rk <= 3
    """,
)
def sim_index_delete_q(spark, sf_dir):
    # r16 (VERDICT r15 #4): the takedown half of the dense lifecycle —
    # build+save the IVF store over the FULL corpus, delete every vector
    # with vec_id % 16 == 3 (above the seed range, so centroids — frozen
    # TRAINING state — are identical on both sides), then run the
    # standard nprobe=1 top-3 over the loaded store.  The oracle assigns
    # and scores a fresh build over the REMAINING corpus, so
    # delete(build(C), X) ≡ build(C−X) is hash-checked end-to-end: a
    # surviving assignment row, a lost non-deleted vector, or a manifest
    # drift all mismatch.  The delete rewrites only the touched cell
    # directories via a name-encoded swap (crash shapes pinned in
    # tests/test_ivf_lifecycle.py); the manifest recounts touched cells
    # from footers through the same pending-marker window as upserts.
    # Fresh store per run — the delete path itself is under test.
    import os
    import shutil

    from datafusion_bigtable_spark.operators.similarity import (
        build_ivf_index,
        delete_from_ivf_index,
        load_ivf_index,
        save_ivf_index,
        topk_ivf,
    )

    e = load(spark, sf_dir, "embeddings")
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    tag = _tag_of("ivfdel1", os.path.abspath(src), st.st_mtime_ns, st.st_size)
    path = f"/tmp/dbs_ivf_delete_{os.path.basename(os.path.normpath(sf_dir))}_{tag}"
    _sweep_stale_store_versions(path)
    shutil.rmtree(path, ignore_errors=True)
    with build_ivf_index(e, n_cells=16) as idx:
        save_ivf_index(idx, path)
    delete_from_ivf_index(
        spark,
        path,
        e.filter((F.col("vec_id") % 16 == 3) & (F.col("vec_id") >= 16)).select(
            "vec_id"
        ),
    )
    return topk_ivf(e, _sim_query_pred(), k=3, index=load_ivf_index(spark, path))


@query(
    "sim_topk_ivfpq_saved",
    REGISTRY["sim_topk_ivfpq"].sql,
)
def sim_topk_ivfpq_saved_q(spark, sf_dir):
    # r16 (VERDICT r15 #6): IVF×PQ served from the PERSISTED
    # representation — sim_topk_ivfpq re-encodes the whole corpus on
    # every call, but at 100 TB the codes table (m bytes per vector) IS
    # the store: PQ's entire point is that the compressed form fits
    # serving memory while the raw corpus does not.  The store persists
    # assignments (cells), the PQ codes table, and both codebooks;
    # search loads them with zero build/encode jobs (metadata-only load
    # pinned in tests) and the oracle IS sim_topk_ivfpq's fresh-build
    # SQL, so a stale code, a drifted codebook, or a lost vector all
    # hash-mismatch.  Upserts encode only their batch; deletes remove
    # code rows in the same call (tests/test_ivf_lifecycle.py).  Store
    # reused across sessions via the content tag.
    from datafusion_bigtable_spark.operators.similarity import topk_ivfpq_saved

    return topk_ivfpq_saved(
        spark, _saved_ivf_store(spark, sf_dir), _sim_query_pred(), k=3
    )


@query(
    "sim_index_compact",
    REGISTRY["sim_search_after_upsert"].sql,
)
def sim_index_compact_q(spark, sf_dir):
    # r17 (VERDICT r16 #4): IVF store COMPACTION — the maintenance half
    # of the upsert lifecycle.  Every upsert appends one file set per
    # touched cell (and one per batch into the codes table), so an
    # ingest-only store fragments forever; compact_ivf_store restores a
    # per-cell file bound (and the codes bound) with ONE rewrite job
    # under the delete machinery's name-encoded swap protocol.  The
    # lifecycle here: build+save on the base corpus (vec_id%4<>0),
    # attach PQ codes, upsert the held-out quarter in TWO batches (both
    # tables fragment — asserted in tests/test_ivf_lifecycle.py), then
    # compact and search over the loaded store.  The oracle is
    # sim_search_after_upsert's fresh-build SQL over the FULL corpus at
    # base-derived seeds: a lost row, a duplicated row, or a torn cell
    # from the rewrite all hash-mismatch.  Fresh store per call — the
    # fragment-then-compact path itself is under test.
    import os
    import shutil

    from datafusion_bigtable_spark.operators.similarity import (
        attach_pq_codes,
        build_ivf_index,
        compact_ivf_store,
        load_ivf_index,
        pq_codebooks,
        save_ivf_index,
        topk_ivf,
        upsert_ivf_index,
    )

    e = load(spark, sf_dir, "embeddings")
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    tag = _tag_of("ivfcmp1", os.path.abspath(src), st.st_mtime_ns, st.st_size)
    path = f"/tmp/dbs_ivf_compact_{os.path.basename(os.path.normpath(sf_dir))}_{tag}"
    _sweep_stale_store_versions(path)
    shutil.rmtree(path, ignore_errors=True)
    with build_ivf_index(e.filter(F.col("vec_id") % 4 != 0), n_cells=16) as idx:
        save_ivf_index(idx, path)
    attach_pq_codes(spark, path, pq_codebooks(e, m=8, k_c=16), n_files=2)
    for m in (0, 4):
        upsert_ivf_index(
            spark,
            path,
            e.filter((F.col("vec_id") % 4 == 0) & (F.col("vec_id") % 8 == m)),
        )
    compact_ivf_store(spark, path, codes_n_files=1)
    return topk_ivf(e, _sim_query_pred(), k=3, index=load_ivf_index(spark, path))


@query(
    "streaming_ivf_maintain",
    REGISTRY["sim_search_after_upsert"].sql,
)
def streaming_ivf_maintain_q(spark, sf_dir):
    # r17: the INGEST-FOREVER composition — sim_index_compact's
    # lifecycle ON THE STREAM (streaming/index_stream.py::
    # run_streaming_index_maintain): each micro-batch upserts, then the
    # maintenance pass holds the store to its file bounds (the policy is
    # compact_ivf_store's own listing-only planner — a store within
    # bounds costs a directory listing, no Spark job), so a feed that
    # never stops can never fragment the store past the bound's worth
    # of appends.  r18: the cell bound default rose 1 → 8 (per-batch
    # full-cell rewrite was O(cell/batch) write amplification); on this
    # 3-batch feed the CELL table stays within bounds while the CODES
    # table (codes_n_files=2, one append per batch) crosses its default
    # 2× trigger at the third batch and compacts ONCE on the stream
    # (r18 hysteresis: with a single bound the table rewrote EVERY
    # batch) — the maintain machinery remains exercised, and compaction
    # stays search-invisible so the oracle is unchanged.  Build+save on the base corpus (vec_id%4<>0) with PQ
    # codes attached (both tables maintain), stream the held-out
    # quarter as 3 files -> 3 micro-batches, search over the loaded
    # store.  Frozen centroids make the result independent of batch
    # boundaries, and compaction is search-invisible — so the oracle is
    # the SAME fresh-build SQL as the batch twin, and a torn swap, a
    # lost code row, or a double-applied batch all hash-mismatch.
    import os
    import shutil

    from datafusion_bigtable_spark.operators.similarity import (
        attach_pq_codes,
        build_ivf_index,
        load_ivf_index,
        pq_codebooks,
        save_ivf_index,
        topk_ivf,
    )
    from datafusion_bigtable_spark.streaming.index_stream import (
        run_streaming_index_maintain,
    )

    e = load(spark, sf_dir, "embeddings")
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    tag = _tag_of("ivfmaint1", os.path.abspath(src), st.st_mtime_ns, st.st_size)
    sfname = os.path.basename(os.path.normpath(sf_dir))
    store = f"/tmp/dbs_ivf_maintain_{sfname}_{tag}"
    feed = f"/tmp/dbs_ivf_mfeed_{sfname}_{tag}"
    _sweep_stale_store_versions(store)
    _sweep_stale_store_versions(feed)
    shutil.rmtree(store, ignore_errors=True)  # the maintain path is under test
    shutil.rmtree(feed, ignore_errors=True)  # fresh checkpoint: replay all
    with build_ivf_index(e.filter(F.col("vec_id") % 4 != 0), n_cells=16) as idx:
        save_ivf_index(idx, store)
    attach_pq_codes(spark, store, pq_codebooks(e, m=8, k_c=16), n_files=2)
    e.filter(F.col("vec_id") % 4 == 0).repartition(3).write.parquet(feed)
    run_streaming_index_maintain(
        spark, feed, store, codes_n_files=2, query_name=f"dbs_ivfmaint_{tag}"
    )
    return topk_ivf(e, _sim_query_pred(), k=3, index=load_ivf_index(spark, store))


@query(
    "streaming_postings_maintain",
    None,  # oracle bound below once retrieval_sparse_topk registers
)
def streaming_postings_maintain_q(spark, sf_dir):
    # r17: the sparse twin of streaming_ivf_maintain — each micro-batch
    # folds into the saved postings index, then compaction holds both
    # tables under the trigger (4×n_files; the policy is a listing-only
    # file count — a within-bounds store is a no-op), rewriting down to
    # n_files=8 when crossed, so an ingest-forever document feed never
    # fragments the store past the trigger.  r18: the trigger/target
    # split replaced the single bound that made EVERY batch rewrite the
    # whole table (write amplification); on this 3-batch feed the base
    # build's 32 postings files cross the trigger once -> ONE stream
    # compaction instead of three, same search result.  Build on 3/4 of
    # the corpus, stream the held-out quarter as 3 files -> 3
    # micro-batches, search over the loaded store.  Exact integer stat merges
    # make the result independent of batch boundaries, and compaction
    # is search-invisible — the oracle IS retrieval_sparse_topk's
    # fresh-build SQL over the full corpus, so a row lost, duplicated,
    # or re-weighted anywhere in the fold+compact pipeline mismatches.
    import os
    import shutil

    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
        search_postings_index,
    )
    from datafusion_bigtable_spark.streaming.postings_stream import (
        run_streaming_postings_maintain,
    )

    d = load(spark, sf_dir, "documents")
    tag = _src_tag("postmaint1", sf_dir, "documents")
    sfname = os.path.basename(os.path.normpath(sf_dir))
    store = f"/tmp/dbs_postmaint_{sfname}_{tag}"
    feed = f"/tmp/dbs_postmfeed_{sfname}_{tag}"
    _sweep_stale_store_versions(store)
    _sweep_stale_store_versions(feed)
    shutil.rmtree(store, ignore_errors=True)  # the maintain path is under test
    shutil.rmtree(feed, ignore_errors=True)  # fresh checkpoint: replay all
    save_postings_index(d.filter(F.col("doc_id") % 4 != 0), store, max_df_frac=0.5)
    d.filter(F.col("doc_id") % 4 == 0).repartition(3).write.parquet(feed)
    run_streaming_postings_maintain(
        spark, feed, store, n_files=8, query_name=f"dbs_postmaint_{tag}"
    )
    return search_postings_index(
        load_postings_index(spark, store),
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 5000),
        k=3,
    )


def _saved_ivf_store(spark, sf_dir) -> str:
    """Build-or-reuse the content-addressed saved IVF store over the
    embeddings fixture: full corpus, n_cells=16 seed codebook (vec_id <
    16 — the oracle-exact default), nprobe=1, with persisted PQ codes
    (seed subspace codebooks m=8/k_c=16).  The dense twin of
    :func:`_postings_store` — the save is paid once per fixture
    generation, every serving-shape query (``sim_topk_ivfpq_saved``,
    ``retrieval_hybrid_saved``) then loads with zero build/encode jobs.
    Stale content versions sweep from /tmp before reuse."""
    import os
    import shutil

    from datafusion_bigtable_spark.operators.similarity import (
        attach_pq_codes,
        build_ivf_index,
        load_ivf_index,
        load_pq_codes,
        pq_codebooks,
        save_ivf_index,
    )

    e = load(spark, sf_dir, "embeddings")
    path = (
        f"/tmp/dbs_ivfpq_{os.path.basename(os.path.normpath(sf_dir))}_"
        f"{_src_tag('ivfpq1', sf_dir, 'embeddings')}"
    )
    _sweep_stale_store_versions(path)
    try:
        load_ivf_index(spark, path)
        load_pq_codes(spark, path)
    except FileNotFoundError:
        shutil.rmtree(path, ignore_errors=True)
        with build_ivf_index(e, n_cells=16) as idx:
            save_ivf_index(idx, path)
        attach_pq_codes(spark, path, pq_codebooks(e, m=8, k_c=16))
    return path


@query(
    "pipeline_embedding_store",
    """
    WITH nc AS (
      SELECT GREATEST(16, CAST(CEIL(COUNT(*) / 2000.0) AS BIGINT)) AS n FROM embeddings),
    seeds AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS sv
      FROM embeddings WHERE vec_id < (SELECT n FROM nc)),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, s.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.sv) DESC,
                          s.cell) AS rn
        FROM embeddings e CROSS JOIN seeds s) t
      WHERE rn = 1),
    dropped AS (
      SELECT DISTINCT ba.vec_id
      FROM embeddings a
        JOIN assign aa ON aa.vec_id = a.vec_id
        JOIN assign ba ON ba.cell = aa.cell AND ba.vec_id > a.vec_id
        JOIN embeddings b ON b.vec_id = ba.vec_id
      WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6) >= 0.95)
    SELECT CAST(CAST(('0x' || substr(md5('vshard|' || CAST(vec_id AS VARCHAR)), 1, 8)) AS INT64)
                % 8 AS INT) AS shard_id,
           COUNT(*) AS n_vectors
    FROM embeddings
    WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
    GROUP BY 1 ORDER BY 1
    """,
)
def pipeline_embedding_store_q(spark, sf_dir):
    # r12: the EMBEDDING-side end-to-end build (pipeline.py::
    # build_embedding_store) in the rotation — SemDeDup-style IVF-blocked
    # near-dup prune (min-id canonical), shard-partitioned vector store,
    # survivor-built searchable IVF index saved cell-partitioned.  The
    # oracle replays the whole decision chain in SQL — seed-codebook
    # assignment, same-cell ≥0.95 pairs, id_b drops, md5 shard hash — so
    # the driver hash checks the BUILD's semantics, not just row counts.
    # Content-addressed out dir, rebuilt fresh per call (deterministic).
    import os
    import shutil

    from datafusion_bigtable_spark.pipeline import build_embedding_store

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    tag = _tag_of("estore1", os.path.abspath(src), st.st_mtime_ns, st.st_size)
    path = f"/tmp/dbs_estore_{os.path.basename(os.path.normpath(sf_dir))}_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    return build_embedding_store(spark, load(spark, sf_dir, "embeddings"), path)


@query(
    "sim_index_drift",
    """
    WITH seeds AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS sv
      FROM embeddings WHERE vec_id < 16 AND vec_id % 4 <> 0),
    base_m AS (
      SELECT ROUND(AVG(c), 5) AS m FROM (
        SELECT MAX(ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                s.sv), 6)) AS c
        FROM embeddings e CROSS JOIN seeds s
        WHERE e.vec_id % 4 <> 0 GROUP BY e.vec_id) t),
    batch_m AS (
      SELECT ROUND(AVG(c), 5) AS m, COUNT(*) AS n FROM (
        SELECT MAX(ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                s.sv), 6)) AS c
        FROM embeddings e CROSS JOIN seeds s
        WHERE e.vec_id % 4 = 0 GROUP BY e.vec_id) t),
    dim AS (SELECT UNNEST(generate_series(
              1, (SELECT len(sv) FROM seeds LIMIT 1))) AS i),
    antivec AS (
      SELECT LIST(v ORDER BY i) AS av FROM (
        SELECT d.i AS i, -AVG(s.sv[d.i]) AS v
        FROM seeds s CROSS JOIN dim d GROUP BY d.i) t),
    shifted_m AS (
      SELECT ROUND(MAX(ROUND(list_cosine_similarity(a.av, s.sv), 6)), 5) AS m
      FROM antivec a CROSS JOIN seeds s)
    SELECT 'base' AS phase, CAST(NULL AS BIGINT) AS appended, m AS top1_mean,
           CAST(NULL AS DOUBLE) AS drift, CAST(NULL AS BOOLEAN) AS retrain
    FROM base_m
    UNION ALL
    SELECT 'in_dist', b.n, b.m, ROUND(bm.m - b.m, 5),
           ROUND(bm.m - b.m, 5) > 0.05
    FROM batch_m b, base_m bm
    UNION ALL
    SELECT 'shifted', 50, s.m, ROUND(bm.m - s.m, 5),
           ROUND(bm.m - s.m, 5) > 0.05
    FROM shifted_m s, base_m bm
    """,
)
def sim_index_drift_q(spark, sf_dir):
    # r13 (VERDICT r12 #4): upsert_ivf_index pins the ORIGINAL centroids
    # forever — correct for assignment stability, but recall then decays
    # SILENTLY as the ingested distribution drifts from the base build.
    # Each appending upsert now records its batch's mean top-1 cosine
    # (rounded per-vector to 6, mean to 5 — engine-reproducible) next to
    # the base build's yardstick in _ivf_meta.json, with
    # retrain_recommended tripping when the batch lands >0.05 below base.
    # This query drives the full lifecycle: build+save on vec_id%4<>0,
    # upsert the in-distribution remainder (must NOT trip), then upsert a
    # deliberately drifted batch — 50 copies of the NEGATED centroid-mean
    # direction, which scores negative cosine against every cell for any
    # non-degenerate codebook (a plain negation of random vectors would
    # not drift: max-cos over sign-symmetric centroids is distribution-
    # invariant).  The oracle recomputes base/batch/shifted metrics and
    # the threshold decisions from the raw tables in SQL, so a wrong
    # yardstick formula, a wrong anti-join universe, or a threshold that
    # cannot trip all hash-mismatch.
    import json
    import os
    import shutil

    import numpy as np

    from datafusion_bigtable_spark.operators.similarity import (
        build_ivf_index,
        negated_centroid_mean_batch,
        save_ivf_index,
        upsert_ivf_index,
    )

    e = load(spark, sf_dir, "embeddings")
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    tag = _tag_of("ivfdrift1", os.path.abspath(src), st.st_mtime_ns, st.st_size)
    path = f"/tmp/dbs_ivf_drift_{os.path.basename(os.path.normpath(sf_dir))}_{tag}"
    shutil.rmtree(path, ignore_errors=True)  # the upsert path is under test
    with build_ivf_index(e.filter(F.col("vec_id") % 4 != 0), n_cells=16) as idx:
        save_ivf_index(idx, path)
    upsert_ivf_index(spark, path, e.filter(F.col("vec_id") % 4 == 0))
    upsert_ivf_index(spark, path, negated_centroid_mean_batch(spark, path, n=50))
    with open(os.path.join(path, "_ivf_meta.json")) as f:
        meta = json.load(f)
    rows = [("base", None, meta["base_top1_mean"], None, None)] + [
        (
            phase,
            rec["appended"],
            rec["top1_mean"],
            rec["drift"],
            rec["retrain_recommended"],
        )
        for phase, rec in zip(("in_dist", "shifted"), meta["upserts"])
    ]
    return spark.createDataFrame(
        rows,
        "phase string, appended bigint, top1_mean double, drift double, retrain boolean",
    )


@query(
    "sim_index_retrain",
    """
    WITH seeds0 AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS sv
      FROM embeddings WHERE vec_id < 16 AND vec_id % 4 <> 0),
    dim AS (SELECT UNNEST(generate_series(
              1, (SELECT len(sv) FROM seeds0 LIMIT 1))) AS i),
    antivec AS (
      SELECT LIST(v ORDER BY i) AS av FROM (
        SELECT d.i AS i, -AVG(s.sv[d.i]) AS v
        FROM seeds0 s CROSS JOIN dim d GROUP BY d.i) t),
    un AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings
      UNION ALL
      SELECT 10000000 + j AS vec_id, a.av AS dv
      FROM antivec a, (SELECT UNNEST(generate_series(0, 49)) AS j) s),
    seeds AS (SELECT vec_id AS cell, dv AS sv FROM un WHERE vec_id < 16)
    SELECT vec_id, cell FROM (
      SELECT u.vec_id, s.cell,
             ROW_NUMBER() OVER (
               PARTITION BY u.vec_id
               ORDER BY list_cosine_similarity(u.dv, s.sv) DESC, s.cell) AS rn
      FROM un u CROSS JOIN seeds s) t
    WHERE rn = 1
    """,
)
def sim_index_retrain_q(spark, sf_dir):
    # r13: the ACTION the drift recommendation points at — after the base
    # build (vec_id%4<>0), an in-distribution upsert, and a drifted upsert
    # (negated centroid-mean, trips retrain_recommended), retrain_ivf_index
    # rebuilds the codebook from the store's CURRENT vector set and
    # reassigns everything with a temp-then-swap rewrite.  The contract:
    # the retrained store is IDENTICAL to a from-scratch build over the
    # union corpus — the oracle computes exactly that assignment (note the
    # new seed set is `vec_id < 16` over the UNION, i.e. WITHOUT the %4
    # base filter: the retrain sees all current vectors), so a stale
    # codebook, a dropped upserted vector, or a half-swapped store all
    # hash-mismatch.
    import os
    import shutil

    from datafusion_bigtable_spark.operators.similarity import (
        build_ivf_index,
        load_ivf_index,
        negated_centroid_mean_batch,
        retrain_ivf_index,
        save_ivf_index,
        upsert_ivf_index,
    )

    e = load(spark, sf_dir, "embeddings")
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    tag = _tag_of("ivfretrain1", os.path.abspath(src), st.st_mtime_ns, st.st_size)
    path = f"/tmp/dbs_ivf_retrain_{os.path.basename(os.path.normpath(sf_dir))}_{tag}"
    shutil.rmtree(path, ignore_errors=True)  # the rewrite path is under test
    with build_ivf_index(e.filter(F.col("vec_id") % 4 != 0), n_cells=16) as idx:
        save_ivf_index(idx, path)
    upsert_ivf_index(spark, path, e.filter(F.col("vec_id") % 4 == 0))
    upsert_ivf_index(spark, path, negated_centroid_mean_batch(spark, path, n=50))
    retrain_ivf_index(spark, path, n_cells=16)
    return load_ivf_index(spark, path).assignments.select("vec_id", "cell")


@query(
    "bucketed_join_mktsegment",
    """
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS total_revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def bucketed_join_mktsegment_q(spark, sf_dir):
    # r13: bucketed co-located join — the pre-shuffled layout that makes a
    # repeated fact⋈fact join exchange-free (operators/bucketing.py).
    # Both sides are written bucketBy(16, custkey) + sortBy into external
    # content-addressed tables; the catalog read then joins with ZERO
    # Exchange and ZERO Sort on either side (plan pinned in
    # tests/test_bucketing.py, along with SelectedBucketsCount pruning on
    # an equality key filter).  At 100 TB this is the difference between
    # re-shuffling both tables per join and paying the layout once at
    # write time.  The oracle is the plain join — bucketing must never
    # change results, only plans.
    import os
    import shutil

    from datafusion_bigtable_spark.operators.bucketing import (
        bucketed_table,
        write_bucketed_table,
    )

    sfname = os.path.basename(os.path.normpath(sf_dir))
    sig = []
    for t in ("customer", "orders"):
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        sig.append(f"{t}|{st.st_mtime_ns}|{st.st_size}")
    tag = _tag_of("bucket1", *sig)
    base = f"/tmp/dbs_bucket_{sfname}_{tag}"
    cname, oname = f"dbs_bucket_cust_{tag}", f"dbs_bucket_ord_{tag}"
    # fresh per call: the bucketed WRITE path is part of what this query
    # exercises (overwrite-idempotent, like the other store fixtures).
    # Catalog + DISK hygiene (review r13 #8, narrowed per ADVICE r13;
    # review r14 #5 reclaims the stale /tmp copies too): fixture
    # regeneration changes the tag, so drop stale entries of THIS query's
    # two table families only — the earlier 'dbs_bucket_' sweep also
    # unregistered the sibling agg query's 'dbs_bucket_aggord_*' table.
    from datafusion_bigtable_spark.operators.bucketing import (
        drop_stale_family_tables,
    )

    drop_stale_family_tables(spark, "dbs_bucket_cust_", cname)
    drop_stale_family_tables(spark, "dbs_bucket_ord_", oname)
    shutil.rmtree(base, ignore_errors=True)
    write_bucketed_table(
        load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        cname,
        f"{base}/customer",
        ["c_custkey"],
        16,
        sort_cols=["c_custkey"],
    )
    write_bucketed_table(
        load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        oname,
        f"{base}/orders",
        ["o_custkey"],
        16,
        sort_cols=["o_custkey"],
    )
    o, c = bucketed_table(spark, oname), bucketed_table(spark, cname)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        )
    )


def streaming_index_upsert_q(spark, sf_dir):
    # r13: IVF store maintenance ON THE STREAM (streaming/index_stream.py)
    # — the embedding feed flows through foreachBatch, each micro-batch
    # (one staged file per trigger, 4 batches) anti-joins + assigns against
    # the ORIGINAL persisted centroids + appends + refreshes the manifest
    # incrementally.  Per-vector assignment depends only on the frozen
    # centroids, so the final store is independent of micro-batch
    # boundaries and ordering — the streamed store equals the batch
    # operator EXACTLY, and the oracle IS sim_index_upsert's SQL (the full
    # corpus assigned over the base-derived seed codebook).
    import os
    import shutil

    from datafusion_bigtable_spark.operators.similarity import (
        build_ivf_index,
        load_ivf_index,
        save_ivf_index,
    )
    from datafusion_bigtable_spark.streaming.index_stream import (
        run_streaming_index_upsert,
    )

    e = load(spark, sf_dir, "embeddings")
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    tag = _tag_of("ivfstream1", os.path.abspath(src), st.st_mtime_ns, st.st_size)
    sfname = os.path.basename(os.path.normpath(sf_dir))
    store = f"/tmp/dbs_ivf_stream_{sfname}_{tag}"
    feed = f"/tmp/dbs_ivf_feed_{sfname}_{tag}"
    shutil.rmtree(store, ignore_errors=True)  # the upsert path is under test
    shutil.rmtree(feed, ignore_errors=True)  # fresh checkpoint: replay all
    with build_ivf_index(e.filter(F.col("vec_id") % 4 != 0), n_cells=16) as idx:
        save_ivf_index(idx, store)
    # stage the feed as 4 files -> 4 micro-batches (maxFilesPerTrigger=1)
    e.filter(F.col("vec_id") % 4 == 0).repartition(4).write.parquet(feed)
    run_streaming_index_upsert(spark, feed, store, query_name=f"dbs_idxup_{tag}")
    return load_ivf_index(spark, store).assignments.select("vec_id", "cell")


REGISTRY["streaming_index_upsert"] = QuerySpec(
    streaming_index_upsert_q, REGISTRY["sim_index_upsert"].sql
)


@query(
    "bucketed_agg_order_stats",
    """
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_spent
    FROM orders
    GROUP BY 1
    """,
)
def bucketed_agg_order_stats_q(spark, sf_dir):
    # r13: the OTHER half of the bucketed layout's value — a groupBy on
    # the bucket key aggregates with ZERO Exchange (the bucketed scan
    # already satisfies hashpartitioning(o_custkey), so HashAggregate
    # runs partial+final in one stage; plan pinned in
    # tests/test_bucketing.py).  At 100 TB a per-key rollup over a
    # bucketed fact table is a pure scan, re-paid never.
    # r15 (VERDICT r14 #7): routed through the SHARED custkey family —
    # the previous private table re-paid its bucketed write on every
    # invocation (rmtree + write_bucketed_table per run), contradicting
    # the layout's own write-once argument and inflating every bench.
    # The (orders, custkey) layout this rollup needs is exactly the one
    # q13/q22/bucketed_join already share, so the write is paid once per
    # fixture generation across all of them; the retired private family
    # ('dbs_bucket_aggord_*' tables, '/tmp/dbs_bucketagg_*' dirs) is
    # swept below so old sessions' copies don't linger.
    # The oracle is the plain aggregate — layout must not change values.
    import glob
    import shutil

    from datafusion_bigtable_spark.operators.bucketing import (
        custkey_family,
        drop_stale_family_tables,
    )

    drop_stale_family_tables(spark, "dbs_bucket_aggord_", keep="")
    for d in glob.glob("/tmp/dbs_bucketagg_*"):
        shutil.rmtree(d, ignore_errors=True)
    _, o = custkey_family(spark, sf_dir)
    return o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
    )


@query(
    "retrieval_sparse_topk",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x != '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (SELECT tf.doc_id, tf.term, tf.tf * ln(n.n_docs::DOUBLE / dfq.df) AS wt
          FROM tf JOIN dfq USING (term) CROSS JOIN n
          WHERE dfq.df <= 0.5 * n.n_docs),
    sc AS (SELECT q.doc_id AS query_id, w.doc_id AS neighbor_id,
                  ROUND(SUM(w.wt * q.wt), 4) AS score
           FROM w JOIN w q USING (term)
           WHERE q.doc_id % 50 = 0 AND q.doc_id < 5000 AND w.doc_id <> q.doc_id
           GROUP BY 1, 2)
    SELECT query_id, neighbor_id, score, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rk
      FROM sc) t
    WHERE rk <= 3
    """,
)
def retrieval_sparse_topk_q(spark, sf_dir):
    # Sparse lexical retrieval (operators/retrieval.py): TF-IDF inverted
    # index with stop-posting pruning (df > N/2 dropped — the bound that
    # keeps posting lists sublinear in the corpus), broadcast query
    # postings matched map-side against the index, ONE scoring shuffle of
    # only the matched pairs, top-3 per query by (rounded score, id).
    # The dense twin is sim_topk_* — together they are the two retrieval
    # modalities a decontamination/near-dup sweep runs.  The oracle
    # rebuilds index + scores from scratch in SQL: a pruning mismatch, a
    # missing candidate, or a weight drift all hash-mismatch.
    # The query set is CAPPED (doc_id < 5000, mirrored in the oracle) the
    # same way _sim_query_pred caps the dense queries: an uncapped "% 50"
    # predicate grows the query count — and with it the broadcast query
    # postings and the candidate-pair volume — linearly with the corpus,
    # the documented 23-45× sf1 superlinear shape (queries.py r10).  The
    # cap saturates at 100 queries from sf0.1 up; a real sweep sizes its
    # query batch independently of the corpus too.
    from datafusion_bigtable_spark.operators.retrieval import sparse_topk

    d = load(spark, sf_dir, "documents")
    return sparse_topk(
        d, (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 5000), k=3, max_df_frac=0.5
    )


def _sweep_stale_store_versions(base: str) -> None:
    """Disk hygiene for a reused content-addressed /tmp store: remove
    sibling directories that differ from ``base`` only in the 12-hex
    content tag (superseded versions of the SAME store — a testdata
    regeneration changes the tag and would otherwise leak a full store
    copy per generation forever, the r14 bucketed-table lesson).  The
    tag is the last underscore segment; non-12-hex leaves are never
    touched."""
    import glob
    import os
    import shutil

    prefix = base.rsplit("_", 1)[0]
    for d in glob.glob(prefix + "_*"):
        tag = os.path.basename(d).rsplit("_", 1)[-1]
        if d != base and re.fullmatch(r"[0-9a-f]{12}", tag):
            shutil.rmtree(d, ignore_errors=True)


def _postings_store(spark, sf_dir) -> str:
    """Build-or-reuse the content-addressed saved postings index over the
    documents fixture (operators/retrieval.py::save_postings_index).
    The save is paid once per fixture generation; the meta json is the
    commit marker (written atomically last, removed first on rewrite),
    so a crashed save re-builds instead of serving a torn index.  Stale
    content versions (superseded tags of this sf dir's store) are swept
    from /tmp before reuse."""
    import os
    import shutil

    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
    )

    path = (
        f"/tmp/dbs_postings_{os.path.basename(os.path.normpath(sf_dir))}_"
        f"{_src_tag('postings2', sf_dir, 'documents')}"
    )
    _sweep_stale_store_versions(path)
    try:
        load_postings_index(spark, path)
    except FileNotFoundError:
        shutil.rmtree(path, ignore_errors=True)
        save_postings_index(
            load(spark, sf_dir, "documents"), path, max_df_frac=0.5
        )
    return path


@query(
    "retrieval_saved_topk",
    REGISTRY["retrieval_sparse_topk"].sql,
)
def retrieval_saved_topk_q(spark, sf_dir):
    # r15 (VERDICT r14 #4): build-once-search-forever — the saved postings
    # index (stop-pruned at save, df/dl denormalized onto the rows, meta
    # json committed last) serves the SAME search as the fresh-build
    # sparse_topk with zero tokenize/index cost: the oracle IS
    # retrieval_sparse_topk's SQL, so a weight drift, a pruning mismatch,
    # or a stale index all hash-mismatch; saved-vs-fresh bit-equality is
    # additionally pinned in tests/test_retrieval.py, and the load's
    # zero-data-read contract (one json, no Spark jobs) is pinned there
    # too.  Store reused across sessions via the content tag.
    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        search_postings_index,
    )

    idx = load_postings_index(spark, _postings_store(spark, sf_dir))
    return search_postings_index(
        idx, (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 5000), k=3
    )


@query(
    "retrieval_bm25_topk",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x != '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    p AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df, dl.dl
          FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN n
          WHERE dfq.df <= 0.5 * n.n_docs),
    sc AS (SELECT q.doc_id AS query_id, p.doc_id AS neighbor_id,
                  ROUND(SUM(q.tf
                            * ln((n.n_docs - p.df + 0.5) / (p.df + 0.5) + 1)
                            * p.tf * (1.2 + 1)
                            / (p.tf + 1.2 * (1 - 0.75 + 0.75 * p.dl / ad.avgdl))),
                        4) AS score
           FROM p JOIN p q USING (term) CROSS JOIN n CROSS JOIN ad
           WHERE q.doc_id % 50 = 0 AND q.doc_id < 5000 AND p.doc_id <> q.doc_id
           GROUP BY 1, 2)
    SELECT query_id, neighbor_id, score, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rk
      FROM sc) t
    WHERE rk <= 3
    """,
)
def retrieval_bm25_topk_q(spark, sf_dir):
    # r15 (VERDICT r14 #4): Okapi BM25 over the SAME saved index —
    # doc-side ln((N-df+.5)/(df+.5)+1) · tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))
    # with k1=1.2, b=0.75, query-side raw tf.  The length normalization
    # is why the index denormalizes dl onto the posting rows: search
    # stays zero-extra-join at any corpus size.  avgdl derives from the
    # meta's exact integer sums, so Spark and DuckDB compute the same
    # double.  The oracle rebuilds index + BM25 from scratch in SQL —
    # any drift in pruning, idf shape, or length normalization
    # hash-mismatches.
    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        search_postings_index,
    )

    idx = load_postings_index(spark, _postings_store(spark, sf_dir))
    return search_postings_index(
        idx,
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 5000),
        k=3,
        weighting="bm25",
        k1=1.2,
        b=0.75,
    )


@query(
    "retrieval_index_upsert",
    REGISTRY["retrieval_sparse_topk"].sql,
)
def retrieval_index_upsert_q(spark, sf_dir):
    # r15: maintain the sparse index ON INGEST — the lifecycle symmetry
    # the dense tier already has (sim_index_upsert).  Build the postings
    # store over 3/4 of the corpus, fold the remaining quarter in as TWO
    # upsert batches (postings append O(batch), exact-df terms table
    # rewrite O(vocab), meta sums advance), then search.  Per-term df
    # and the pruning bound are evaluated against the MERGED corpus at
    # search, so the upserted index is semantically identical to a fresh
    # build — the oracle IS retrieval_sparse_topk's SQL over the full
    # corpus: a stale df, a lost posting, or a double-merged term all
    # hash-mismatch.  Fresh store per run (the upsert path is under
    # test), same posture as sim_index_upsert.
    import os
    import shutil

    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
        search_postings_index,
        upsert_postings_index,
    )

    d = load(spark, sf_dir, "documents")
    path = (
        f"/tmp/dbs_postupsert_{os.path.basename(os.path.normpath(sf_dir))}_"
        f"{_src_tag('postupsert1', sf_dir, 'documents')}"
    )
    _sweep_stale_store_versions(path)
    shutil.rmtree(path, ignore_errors=True)
    save_postings_index(d.filter(F.col("doc_id") % 4 != 0), path, max_df_frac=0.5)
    idx = load_postings_index(spark, path)
    idx = upsert_postings_index(idx, d.filter(F.col("doc_id") % 8 == 0))
    idx = upsert_postings_index(idx, d.filter(F.col("doc_id") % 8 == 4))
    return search_postings_index(
        idx, (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 5000), k=3
    )


@query(
    "streaming_postings_upsert",
    REGISTRY["retrieval_sparse_topk"].sql,
)
def streaming_postings_upsert_q(spark, sf_dir):
    # r15: sparse index maintenance ON THE STREAM
    # (streaming/postings_stream.py) — the document feed flows through
    # foreachBatch (one staged file per trigger, 4 micro-batches), each
    # batch anti-joins the stored ids (replay guard), appends its
    # postings, merges exact df deltas, and advances the meta sums.
    # Term statistics merge by exact integer sums, so the final index is
    # independent of micro-batch boundaries and ordering — the streamed
    # store equals a fresh build over the full corpus EXACTLY, and the
    # oracle IS retrieval_sparse_topk's SQL.  The dense twin is
    # streaming_index_upsert; together the two stores' full lifecycles
    # (build→save→upsert, batch AND stream) are oracle-covered.
    import os
    import shutil

    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
        search_postings_index,
    )
    from datafusion_bigtable_spark.streaming.postings_stream import (
        run_streaming_postings_upsert,
    )

    d = load(spark, sf_dir, "documents")
    tag = _src_tag("poststream1", sf_dir, "documents")
    sfname = os.path.basename(os.path.normpath(sf_dir))
    store = f"/tmp/dbs_poststream_{sfname}_{tag}"
    feed = f"/tmp/dbs_postfeed_{sfname}_{tag}"
    _sweep_stale_store_versions(store)
    _sweep_stale_store_versions(feed)
    shutil.rmtree(store, ignore_errors=True)  # the upsert path is under test
    shutil.rmtree(feed, ignore_errors=True)  # fresh checkpoint: replay all
    save_postings_index(d.filter(F.col("doc_id") % 4 != 0), store, max_df_frac=0.5)
    # stage the feed as 4 files -> 4 micro-batches (maxFilesPerTrigger=1)
    d.filter(F.col("doc_id") % 4 == 0).repartition(4).write.parquet(feed)
    run_streaming_postings_upsert(spark, feed, store, query_name=f"dbs_postup_{tag}")
    return search_postings_index(
        load_postings_index(spark, store),
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 5000),
        k=3,
    )


# streaming_postings_maintain registers above retrieval_sparse_topk in
# file order; bind its (shared) oracle now that the SQL exists.
REGISTRY["streaming_postings_maintain"] = QuerySpec(
    REGISTRY["streaming_postings_maintain"].fn,
    REGISTRY["retrieval_sparse_topk"].sql,
)


@query(
    "retrieval_postings_compact",
    REGISTRY["retrieval_sparse_topk"].sql,
)
def retrieval_postings_compact_q(spark, sf_dir):
    # r16 (VERDICT r15 #3): postings-store COMPACTION — the maintenance
    # half of the upsert lifecycle.  Each upsert appends its own
    # term-clustered files, so after K batches a term's posting list
    # spans up to K×n_files files and every search join touches every
    # batch's files forever; compact_postings_index re-clusters the
    # store back to n_files (one term, one file) under the same
    # meta-removed-first crash protocol.  Lifecycle under test here:
    # save over 3/4 of the corpus at n_files=8, fold the rest in as two
    # upsert batches (24 postings files), compact back to 8, search —
    # the oracle IS retrieval_sparse_topk's fresh-build SQL, so a row
    # lost, duplicated, or re-weighted by the rewrite hash-mismatches.
    # File-count restoration, no-op idempotence, and the crash shape are
    # pinned in tests/test_retrieval.py.
    import os
    import shutil

    from datafusion_bigtable_spark.operators.retrieval import (
        compact_postings_index,
        load_postings_index,
        save_postings_index,
        search_postings_index,
        upsert_postings_index,
    )

    d = load(spark, sf_dir, "documents")
    path = (
        f"/tmp/dbs_postcompact_{os.path.basename(os.path.normpath(sf_dir))}_"
        f"{_src_tag('postcompact1', sf_dir, 'documents')}"
    )
    _sweep_stale_store_versions(path)
    shutil.rmtree(path, ignore_errors=True)  # the compact path is under test
    save_postings_index(d.filter(F.col("doc_id") % 4 != 0), path, n_files=8)
    idx = load_postings_index(spark, path)
    idx = upsert_postings_index(idx, d.filter(F.col("doc_id") % 8 == 0), n_files=8)
    idx = upsert_postings_index(idx, d.filter(F.col("doc_id") % 8 == 4), n_files=8)
    idx = compact_postings_index(idx, n_files=8)
    return search_postings_index(
        idx, (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 5000), k=3
    )


@query(
    "retrieval_postings_delete",
    """
    WITH corpus AS (SELECT * FROM documents WHERE doc_id % 16 <> 3),
    toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x != '')) AS term
      FROM corpus),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM corpus),
    w AS (SELECT tf.doc_id, tf.term, tf.tf * ln(n.n_docs::DOUBLE / dfq.df) AS wt
          FROM tf JOIN dfq USING (term) CROSS JOIN n
          WHERE dfq.df <= 0.5 * n.n_docs),
    sc AS (SELECT q.doc_id AS query_id, w.doc_id AS neighbor_id,
                  ROUND(SUM(w.wt * q.wt), 4) AS score
           FROM w JOIN w q USING (term)
           WHERE q.doc_id % 50 = 0 AND q.doc_id < 5000 AND w.doc_id <> q.doc_id
           GROUP BY 1, 2)
    SELECT query_id, neighbor_id, score, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rk
      FROM sc) t
    WHERE rk <= 3
    """,
)
def retrieval_postings_delete_q(spark, sf_dir):
    # r16 (VERDICT r15 #4): the takedown/right-to-erasure half of the
    # sparse lifecycle — build the saved index over the FULL corpus,
    # delete every doc with doc_id % 16 == 3 (a scattered ~6% takedown),
    # search what remains.  The oracle is a fresh build over the
    # remaining corpus (documents WHERE doc_id % 16 <> 3), so the
    # equivalence delete(build(C), X) ≡ build(C−X) is hash-checked
    # end-to-end: a surviving posting, a stale df, an avgdl drift, or a
    # lost non-deleted row all mismatch.  Deletes decrement EXACT
    # integer stats from what the store held (per-term df from the
    # deleted postings, dl/n_docs from the authoritative docs table) and
    # rewrite only provenance-touched files; crash shapes and
    # zero-token-doc accounting are pinned in tests/test_retrieval.py.
    import os
    import shutil

    from datafusion_bigtable_spark.operators.retrieval import (
        delete_from_postings_index,
        load_postings_index,
        save_postings_index,
        search_postings_index,
    )

    d = load(spark, sf_dir, "documents")
    path = (
        f"/tmp/dbs_postdelete_{os.path.basename(os.path.normpath(sf_dir))}_"
        f"{_src_tag('postdelete1', sf_dir, 'documents')}"
    )
    _sweep_stale_store_versions(path)
    shutil.rmtree(path, ignore_errors=True)  # the delete path is under test
    save_postings_index(d, path, max_df_frac=0.5)
    idx = load_postings_index(spark, path)
    idx = delete_from_postings_index(
        idx, d.filter(F.col("doc_id") % 16 == 3).select("doc_id")
    )
    return search_postings_index(
        idx, (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 5000), k=3
    )


@query(
    "streaming_postings_delete",
    REGISTRY["retrieval_postings_delete"].sql,
)
def streaming_postings_delete_q(spark, sf_dir):
    # r16: takedown ON THE STREAM (streaming/takedown_stream.py) —
    # deletion requests arrive continuously in production, so the batch
    # delete gets the same foreachBatch twin the upsert has.  No replay
    # guard needed: delete_from_postings_index is idempotent by
    # contract (non-member ids fold to nothing, stats decrement from
    # what the store held), so at-least-once delivery is replay-safe by
    # construction.  Exact integer decrements make the result
    # independent of micro-batch boundaries — the streamed store equals
    # the batch delete and a fresh build over the remaining corpus
    # EXACTLY (the oracle IS retrieval_postings_delete's SQL).
    import os
    import shutil

    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        save_postings_index,
        search_postings_index,
    )
    from datafusion_bigtable_spark.streaming.takedown_stream import (
        run_streaming_postings_delete,
    )

    d = load(spark, sf_dir, "documents")
    tag = _src_tag("postdelstream1", sf_dir, "documents")
    sfname = os.path.basename(os.path.normpath(sf_dir))
    store = f"/tmp/dbs_postdelstream_{sfname}_{tag}"
    feed = f"/tmp/dbs_postdelfeed_{sfname}_{tag}"
    _sweep_stale_store_versions(store)
    _sweep_stale_store_versions(feed)
    shutil.rmtree(store, ignore_errors=True)  # the delete path is under test
    shutil.rmtree(feed, ignore_errors=True)  # fresh checkpoint: replay all
    save_postings_index(d, store, max_df_frac=0.5)
    # stage the takedown feed as 2 files -> 2 micro-batches
    (
        d.filter(F.col("doc_id") % 16 == 3)
        .select("doc_id")
        .repartition(2)
        .write.parquet(feed)
    )
    run_streaming_postings_delete(
        spark, feed, store, query_name=f"dbs_postdel_{tag}"
    )
    return search_postings_index(
        load_postings_index(spark, store),
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 5000),
        k=3,
    )


@query(
    "streaming_ivf_delete",
    REGISTRY["sim_index_delete"].sql,
)
def streaming_ivf_delete_q(spark, sf_dir):
    # r16: the dense takedown stream — same contract as
    # streaming_postings_delete (idempotent batch delete makes
    # at-least-once delivery replay-safe with no guard), applied to the
    # saved IVF store through foreachBatch.  Each micro-batch's
    # per-cell swap + footer recount leaves the store exactly one
    # takedown batch behind the feed; the oracle IS sim_index_delete's
    # SQL (fresh build + search over the remaining corpus), so a
    # surviving assignment or a double-applied decrement
    # hash-mismatches.
    import os
    import shutil

    from datafusion_bigtable_spark.operators.similarity import (
        build_ivf_index,
        load_ivf_index,
        save_ivf_index,
        topk_ivf,
    )
    from datafusion_bigtable_spark.streaming.takedown_stream import (
        run_streaming_ivf_delete,
    )

    e = load(spark, sf_dir, "embeddings")
    tag = _src_tag("ivfdelstream1", sf_dir, "embeddings")
    sfname = os.path.basename(os.path.normpath(sf_dir))
    store = f"/tmp/dbs_ivfdelstream_{sfname}_{tag}"
    feed = f"/tmp/dbs_ivfdelfeed_{sfname}_{tag}"
    _sweep_stale_store_versions(store)
    _sweep_stale_store_versions(feed)
    shutil.rmtree(store, ignore_errors=True)
    shutil.rmtree(feed, ignore_errors=True)
    with build_ivf_index(e, n_cells=16) as idx:
        save_ivf_index(idx, store)
    (
        e.filter((F.col("vec_id") % 16 == 3) & (F.col("vec_id") >= 16))
        .select("vec_id")
        .repartition(2)
        .write.parquet(feed)
    )
    run_streaming_ivf_delete(spark, feed, store, query_name=f"dbs_ivfdel_{tag}")
    return topk_ivf(e, _sim_query_pred(), k=3, index=load_ivf_index(spark, store))


@query(
    "retrieval_hybrid_rrf",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x != '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (SELECT tf.doc_id, tf.term, tf.tf * ln(n.n_docs::DOUBLE / dfq.df) AS wt
          FROM tf JOIN dfq USING (term) CROSS JOIN n
          WHERE dfq.df <= 0.5 * n.n_docs),
    ssc AS (SELECT q.doc_id AS query_id, w.doc_id AS neighbor_id,
                   ROUND(SUM(w.wt * q.wt), 4) AS score
            FROM w JOIN w q USING (term)
            WHERE q.doc_id % 100 = 0 AND q.doc_id < 2000 AND w.doc_id <> q.doc_id
            GROUP BY 1, 2),
    sr AS (SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rk
           FROM ssc),
    dsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                CAST(c.embedding AS DOUBLE[])), 6) AS score
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id % 100 = 0 AND q.vec_id < 2000),
    dr AS (SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rk
           FROM dsc),
    u AS (SELECT query_id, neighbor_id, rk FROM sr WHERE rk <= 10
          UNION ALL
          SELECT query_id, neighbor_id, rk FROM dr WHERE rk <= 10),
    f AS (SELECT query_id, neighbor_id,
                 ROUND(SUM(1.0 / (60 + rk)), 8) AS rrf_score
          FROM u GROUP BY 1, 2)
    SELECT query_id, neighbor_id, rrf_score, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, neighbor_id) AS rk
      FROM f) t
    WHERE rk <= 5
    """,
)
def retrieval_hybrid_rrf_q(spark, sf_dir):
    # r15 (VERDICT r14 #6): hybrid retrieval — reciprocal-rank fusion
    # (k=60) of the repo's two modalities, sparse TF-IDF top-10
    # (operators/retrieval.py) and dense brute-force-cosine top-10
    # (operators/similarity.py), over the SHARED absolute-bounded query
    # set (% 100, < 2000 — _sim_query_pred's cap, mirrored on doc_id;
    # documents and embeddings share the id space by fixture
    # construction).  This is the retrieval shape a decontamination /
    # near-dup sweep actually runs: lexical and embedding evidence
    # fused by rank, not by incomparable raw scores.  Fusion cost is
    # queries × k rows per modality — independent of corpus size; one
    # tiny grouping exchange (operators/retrieval.py::rrf_fuse).  The
    # oracle re-derives BOTH rankings and the RRF sum in SQL.
    from datafusion_bigtable_spark.operators.retrieval import rrf_fuse, sparse_topk
    from datafusion_bigtable_spark.operators.similarity import topk_bruteforce

    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    sparse = sparse_topk(
        d, (F.col("doc_id") % 100 == 0) & (F.col("doc_id") < 2000), k=10
    )
    dense = topk_bruteforce(e, _sim_query_pred(), k=10)
    return rrf_fuse([sparse, dense], rrf_k=60, k=5)


@query(
    "retrieval_hybrid_rrf_ivf",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x != '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    w AS (SELECT tf.doc_id, tf.term, tf.tf * ln(n.n_docs::DOUBLE / dfq.df) AS wt
          FROM tf JOIN dfq USING (term) CROSS JOIN n
          WHERE dfq.df <= 0.5 * n.n_docs),
    ssc AS (SELECT q.doc_id AS query_id, w.doc_id AS neighbor_id,
                   ROUND(SUM(w.wt * q.wt), 4) AS score
            FROM w JOIN w q USING (term)
            WHERE q.doc_id % 100 = 0 AND q.doc_id < 2000 AND w.doc_id <> q.doc_id
            GROUP BY 1, 2),
    sr AS (SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rk
           FROM ssc),
    seeds AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS sv
      FROM embeddings WHERE vec_id < 16),
    ranked AS (
      SELECT e.vec_id, s.cell,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.sv) DESC,
                        s.cell) AS rn
      FROM embeddings e CROSS JOIN seeds s),
    dsc AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[])), 6) AS score
      FROM embeddings q
        JOIN ranked qa ON qa.vec_id = q.vec_id AND qa.rn <= 4
        JOIN ranked ca ON ca.cell = qa.cell AND ca.rn = 1 AND ca.vec_id <> q.vec_id
        JOIN embeddings c ON c.vec_id = ca.vec_id
      WHERE q.vec_id % 100 = 0 AND q.vec_id < 2000),
    dr AS (SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rk
           FROM dsc),
    u AS (SELECT query_id, neighbor_id, rk FROM sr WHERE rk <= 10
          UNION ALL
          SELECT query_id, neighbor_id, rk FROM dr WHERE rk <= 10),
    f AS (SELECT query_id, neighbor_id,
                 ROUND(SUM(1.0 / (60 + rk)), 8) AS rrf_score
          FROM u GROUP BY 1, 2)
    SELECT query_id, neighbor_id, rrf_score, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, neighbor_id) AS rk
      FROM f) t
    WHERE rk <= 5
    """,
)
def retrieval_hybrid_rrf_ivf_q(spark, sf_dir):
    # r15: the SCALE-path hybrid — the brute-force dense leg swapped for
    # IVF nprobe=4 search (the r15 sf10 probe measured the brute leg at
    # d2=4.7× vs IVF's 2.1×; rrf_fuse composes either unchanged because
    # fusion is rank math over whatever top-k lists arrive).  RRF is also
    # WHY an approximate leg is safe here: a neighbor IVF misses simply
    # contributes no reciprocal from that list, degrading its fused rank
    # instead of corrupting a score.  Deterministic seed codebook keeps
    # the dense leg oracle-exact (sim_topk_ivf_nprobe's SQL), so the
    # whole fusion stays hash-checked.
    from datafusion_bigtable_spark.operators.retrieval import rrf_fuse, sparse_topk
    from datafusion_bigtable_spark.operators.similarity import topk_ivf

    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    sparse = sparse_topk(
        d, (F.col("doc_id") % 100 == 0) & (F.col("doc_id") < 2000), k=10
    )
    dense = topk_ivf(e, _sim_query_pred(), n_cells=16, k=10, nprobe=4)
    return rrf_fuse([sparse, dense], rrf_k=60, k=5)


@query(
    "retrieval_hybrid_saved",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x != '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    p AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df, dl.dl
          FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN n
          WHERE dfq.df <= 0.5 * n.n_docs),
    ssc AS (SELECT q.doc_id AS query_id, p.doc_id AS neighbor_id,
                   ROUND(SUM(q.tf
                             * ln((n.n_docs - p.df + 0.5) / (p.df + 0.5) + 1)
                             * p.tf * (1.2 + 1)
                             / (p.tf + 1.2 * (1 - 0.75 + 0.75 * p.dl / ad.avgdl))),
                         4) AS score
            FROM p JOIN p q USING (term) CROSS JOIN n CROSS JOIN ad
            WHERE q.doc_id % 100 = 0 AND q.doc_id < 2000 AND p.doc_id <> q.doc_id
            GROUP BY 1, 2),
    sr AS (SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rk
           FROM ssc),
    seeds AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS sv
      FROM embeddings WHERE vec_id < 16),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, s.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.sv) DESC,
                          s.cell) AS rn
        FROM embeddings e CROSS JOIN seeds s) t
      WHERE rn = 1),
    dsc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                CAST(c.embedding AS DOUBLE[])), 6) AS score
            FROM embeddings q
              JOIN assign qa ON qa.vec_id = q.vec_id
              JOIN assign ca ON ca.cell = qa.cell AND ca.vec_id <> q.vec_id
              JOIN embeddings c ON c.vec_id = ca.vec_id
            WHERE q.vec_id % 100 = 0 AND q.vec_id < 2000),
    dr AS (SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rk
           FROM dsc),
    u AS (SELECT query_id, neighbor_id, rk FROM sr WHERE rk <= 10
          UNION ALL
          SELECT query_id, neighbor_id, rk FROM dr WHERE rk <= 10),
    f AS (SELECT query_id, neighbor_id,
                 ROUND(SUM(1.0 / (60 + rk)), 8) AS rrf_score
          FROM u GROUP BY 1, 2)
    SELECT query_id, neighbor_id, rrf_score, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, neighbor_id) AS rk
      FROM f) t
    WHERE rk <= 5
    """,
)
def retrieval_hybrid_saved_q(spark, sf_dir):
    # r16 (VERDICT r15 #5): the SERVING shape of hybrid retrieval — RRF
    # over two SAVED stores with ZERO build/encode jobs at query time:
    # the sparse leg is BM25 over the persisted postings index (loaded:
    # one json, no Spark jobs), the dense leg is nprobe=1 IVF over the
    # persisted assignment store (loaded: sidecar schema, no footer
    # reads).  retrieval_hybrid_rrf[_ivf] re-derive both indexes per
    # call — correct as correctness harnesses, but a deployment pays
    # index cost at INGEST and only rank-fusion math at query; this
    # query pins that composition end-to-end.  Both legs are individually
    # oracle-exact, so the fused oracle re-derives BM25 + seed-IVF + RRF
    # in SQL; fusion cost stays queries × k rows regardless of corpus
    # size (operators/retrieval.py::rrf_fuse).
    from datafusion_bigtable_spark.operators.retrieval import rrf_fuse
    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        search_postings_index,
    )
    from datafusion_bigtable_spark.operators.similarity import (
        load_ivf_index,
        topk_ivf,
    )

    e = load(spark, sf_dir, "embeddings")
    sidx = load_postings_index(spark, _postings_store(spark, sf_dir))
    sparse = search_postings_index(
        sidx,
        (F.col("doc_id") % 100 == 0) & (F.col("doc_id") < 2000),
        k=10,
        weighting="bm25",
    )
    didx = load_ivf_index(spark, _saved_ivf_store(spark, sf_dir))
    dense = topk_ivf(e, _sim_query_pred(), k=10, index=didx)
    return rrf_fuse([sparse, dense], rrf_k=60, k=5)


@query(
    "retrieval_hybrid_saved_pq",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x != '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    p AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df, dl.dl
          FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN n
          WHERE dfq.df <= 0.5 * n.n_docs),
    ssc AS (SELECT q.doc_id AS query_id, p.doc_id AS neighbor_id,
                   ROUND(SUM(q.tf
                             * ln((n.n_docs - p.df + 0.5) / (p.df + 0.5) + 1)
                             * p.tf * (1.2 + 1)
                             / (p.tf + 1.2 * (1 - 0.75 + 0.75 * p.dl / ad.avgdl))),
                         4) AS score
            FROM p JOIN p q USING (term) CROSS JOIN n CROSS JOIN ad
            WHERE q.doc_id % 100 = 0 AND q.doc_id < 2000 AND p.doc_id <> q.doc_id
            GROUP BY 1, 2),
    sr AS (SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rk
           FROM ssc),
    seeds AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS sv
      FROM embeddings WHERE vec_id < 16),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, s.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.sv) DESC,
                          s.cell) AS rn
        FROM embeddings e CROSS JOIN seeds s) t
      WHERE rn = 1),
    dv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sub AS (
      SELECT vec_id, j, v[j*8+1 : j*8+8] AS s
      FROM dv, (SELECT unnest(generate_series(0, 7)) AS j) jj),
    cents AS (
      SELECT j, vec_id AS code, s AS cent, list_inner_product(s, s) AS cc
      FROM sub WHERE vec_id < 16),
    codes AS (
      SELECT vec_id, j, code FROM (
        SELECT d.vec_id, d.j, c.code,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.j
                                  ORDER BY c.cc - 2 * list_inner_product(d.s, c.cent), c.code) AS rn
        FROM sub d JOIN cents c ON c.j = d.j) t
      WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, j, s AS qs FROM sub WHERE vec_id % 100 = 0 AND vec_id < 2000),
    dsc AS (
      SELECT q.query_id, d.vec_id AS neighbor_id,
             ROUND(SUM(list_inner_product(q.qs, c.cent)), 6) AS score
      FROM codes d
      JOIN assign ca ON ca.vec_id = d.vec_id
      JOIN q ON q.j = d.j AND q.query_id <> d.vec_id
      JOIN assign qa ON qa.vec_id = q.query_id AND qa.cell = ca.cell
      JOIN cents c ON c.j = d.j AND c.code = d.code
      GROUP BY q.query_id, d.vec_id),
    dr AS (SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id) AS rk
           FROM dsc),
    u AS (SELECT query_id, neighbor_id, rk FROM sr WHERE rk <= 10
          UNION ALL
          SELECT query_id, neighbor_id, rk FROM dr WHERE rk <= 10),
    f AS (SELECT query_id, neighbor_id,
                 ROUND(SUM(1.0 / (60 + rk)), 8) AS rrf_score
          FROM u GROUP BY 1, 2)
    SELECT query_id, neighbor_id, rrf_score, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, neighbor_id) AS rk
      FROM f) t
    WHERE rk <= 5
    """,
)
def retrieval_hybrid_saved_pq_q(spark, sf_dir):
    # r17 (VERDICT r16 #5): the serving-MEMORY completion of
    # retrieval_hybrid_saved — same zero-build-jobs composition, but the
    # dense leg rides the COMPRESSED representation: topk_ivfpq_saved
    # scores ADC sums over the persisted PQ codes table (m bytes per
    # vector) instead of raw `_dv` cosines over the assignment store.
    # At 100 TB that is the difference between a dense leg whose serving
    # working set is the corpus and one whose working set is ~1% of it —
    # raw vectors never reach the scorer (query subspace slices come
    # from the store's own vectors, the repo-wide queries-are-corpus-
    # members ANN contract).  RRF makes the approximate leg safe: an ADC
    # quantization miss degrades a fused rank, never corrupts a score.
    # The oracle composes retrieval_hybrid_saved's BM25 CTEs with
    # sim_topk_ivfpq's seed-codebook ADC CTEs at rk<=10, so both legs
    # AND the fusion stay hash-checked end-to-end.
    from datafusion_bigtable_spark.operators.retrieval import (
        load_postings_index,
        rrf_fuse,
        search_postings_index,
    )
    from datafusion_bigtable_spark.operators.similarity import topk_ivfpq_saved

    sidx = load_postings_index(spark, _postings_store(spark, sf_dir))
    sparse = search_postings_index(
        sidx,
        (F.col("doc_id") % 100 == 0) & (F.col("doc_id") < 2000),
        k=10,
        weighting="bm25",
    )
    dense = topk_ivfpq_saved(
        spark, _saved_ivf_store(spark, sf_dir), _sim_query_pred(), k=10
    )
    return rrf_fuse([sparse, dense], rrf_k=60, k=5)


@query(
    "shards_compact_roundtrip",
    """
    WITH t AS (
      SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS INT64) % 8 AS shard_id,
             doc_id,
             CAST(('0x' || substr(md5(text),1,8)) AS INT64) AS fp
      FROM documents)
    SELECT shard_id, COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(SUM(fp) AS BIGINT) AS text_fp
    FROM t GROUP BY shard_id
    """,
)
def shards_compact_roundtrip_q(spark, sf_dir):
    # Small-file compaction (sources/layout.py): deliberately fragment a
    # shard store (maxRecordsPerFile=32 → every shard lands many small
    # files, the accretion state every incremental-ingest store reaches),
    # compact it (target 100k → exactly 1 file per shard here), and read
    # the COMPACTED files back.  The returned per-shard rollup carries an
    # order-insensitive content fingerprint (sum of md5-prefix ints over
    # text), so a row lost, duplicated, or cross-shard-misplaced by the
    # rewrite hash-mismatches against the oracle, which computes the same
    # rollup straight from the source table.  File-count/rewrite-avoidance
    # mechanics are pinned in tests/test_layout.py; fresh store per run
    # because the compaction path itself is under test.  The fragmentation
    # degree SATURATES (~256 small files from sf0.1 up): fragmenting at a
    # fixed records-per-file would grow the harness's file count — and
    # the footer-stat and swap costs with it — linearly with the corpus,
    # the same harness-superlinearity trap as an uncapped query set.
    import math
    import os
    import shutil

    from datafusion_bigtable_spark.sources.layout import compact_training_shards
    from datafusion_bigtable_spark.sources.shards import (
        read_training_shards,
        write_training_shards,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    tag = _tag_of("compact1", os.path.abspath(src), st.st_mtime_ns, st.st_size)
    path = f"/tmp/dbs_compact_{os.path.basename(os.path.normpath(sf_dir))}_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    d = load(spark, sf_dir, "documents").select(
        F.pmod(
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
            F.lit(8),
        ).alias("shard_id"),
        "doc_id",
        F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("long").alias("fp"),
    )
    # row count from the source file's parquet footer (driver-side
    # metadata read, no Spark job) — it only sizes the fragmentation
    # harness, and the footer IS the count's source of truth
    import pyarrow.parquet as _pq

    n_docs = _pq.ParquetFile(src).metadata.num_rows
    frag = max(32, math.ceil(n_docs / 256))
    write_training_shards(d, path, max_records_per_file=frag)
    compact_training_shards(spark, path, target_records_per_file=100_000)
    return (
        read_training_shards(spark, path)
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum("fp").alias("text_fp"),
        )
    )


@query(
    "sorted_shards_range_layout",
    """
    WITH t AS (SELECT doc_id, n_chars * 10000000000 + doc_id AS ck FROM documents),
    r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY ck) AS rn,
                 COUNT(*) OVER () AS cnt
          FROM t)
    SELECT doc_id, CAST((rn * 8 + cnt - 1) // cnt AS INT) AS shard_id FROM r
    """,
)
def sorted_shards_range_layout_q(spark, sf_dir):
    # Range-sorted shard layout (sources/layout.py): the terasort shape —
    # exact distributed order-statistics pick the 7 boundary values of the
    # unique key (n_chars·1e6 + doc_id), every row is assigned its shard
    # by broadcast boundary comparison, and the store is written range-
    # disjoint + internally sorted with ONE data shuffle and no global
    # single-node sort.  The query reads the store BACK (shard_id comes
    # from the partition directories, proving the write) and the oracle
    # derives each doc's shard by the independent rank-math spec —
    # ceil(rank·8/count) — so the two sides agree only if the
    # boundary-selection + comparison assignment implements balanced
    # global ranges exactly.  Disjointness/sortedness of the files are
    # pinned in tests/test_layout.py.  Deterministic boundaries are the
    # point: repartitionByRange alone SAMPLES its boundaries, which a
    # reproducible layout (and this oracle) cannot tolerate.
    import os
    import shutil

    from datafusion_bigtable_spark.sources.layout import write_range_sorted_shards

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    tag = _tag_of("rangesort1", os.path.abspath(src), st.st_mtime_ns, st.st_size)
    path = f"/tmp/dbs_rangesort_{os.path.basename(os.path.normpath(sf_dir))}_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    # Composite-key uniqueness bound (ADVICE r14): the 1e10 multiplier
    # keeps ck unique for any doc_id < 1e10 (the old 1e6 held only
    # through sf10's 500k max) — a key TIE would let the oracle's
    # ROW_NUMBER split it across shards while the impl placed both rows
    # together, a latent hash mismatch.  n_chars ≤ ~1e3 at every sf, so
    # ck ≤ ~1e13 stays far inside int64.
    d = load(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars") * 10_000_000_000 + F.col("doc_id")).alias("ck")
    )
    write_range_sorted_shards(d, path, order_col="ck", n_shards=8)
    return spark.read.parquet(path).select("doc_id", "shard_id")


@query(
    "sorted_shards_range_prune",
    """
    WITH t AS (SELECT doc_id, n_chars * 10000000000 + doc_id AS ck FROM documents),
    r AS (SELECT doc_id, ck, ROW_NUMBER() OVER (ORDER BY ck) AS rn,
                 COUNT(*) OVER () AS cnt
          FROM t)
    SELECT doc_id, CAST((rn * 8 + cnt - 1) // cnt AS INT) AS shard_id
    FROM r
    WHERE ck BETWEEN 600000000000 AND 809999999999
    """,
)
def sorted_shards_range_prune_q(spark, sf_dir):
    # r15 (VERDICT r14 #3): the range layout's PAYOFF — the boundaries
    # persisted at write time (meta json + typed bounds parquet) let a
    # LATER session answer a key-range predicate by opening only the
    # shard directories that can intersect it, with zero re-derivation
    # and zero full-store listing.  read_range_sorted_shards prunes
    # ck ∈ [60e10, 81e10) (= n_chars 60..80) down to the boundary-chosen
    # shard subset before Spark lists a file (inputFiles ⊂ selected dirs
    # pinned in tests/test_layout.py), then applies the residual BETWEEN
    # inside the edge shards.  This completes at the file-layout tier the
    # key-range pruning the predicate composer does at the Bigtable tier
    # (reference src/composer.rs:23-162).  The oracle derives each doc's
    # shard by the independent rank-math spec over the FULL corpus and
    # filters to the same band — a reader that prunes a shard it needed,
    # or re-derives different bounds, loses rows and hash-mismatches.
    # The store is BUILT-OR-REUSED (content-addressed; reused when its
    # layout record is complete) — persistence across sessions is the
    # operator under test, so re-paying the write per run would test the
    # wrong thing AND inflate the bench.
    import os
    import shutil

    from datafusion_bigtable_spark.sources.layout import (
        read_range_layout_bounds,
        read_range_sorted_shards,
        write_range_sorted_shards,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    tag = _tag_of("rangeprune1", os.path.abspath(src), st.st_mtime_ns, st.st_size)
    path = f"/tmp/dbs_rangeprune_{os.path.basename(os.path.normpath(sf_dir))}_{tag}"
    _sweep_stale_store_versions(path)
    try:
        read_range_layout_bounds(path)
        complete = os.path.isfile(os.path.join(path, "_SUCCESS"))
    except (FileNotFoundError, ValueError):
        complete = False
    if not complete:
        shutil.rmtree(path, ignore_errors=True)
        d = load(spark, sf_dir, "documents").select(
            "doc_id", (F.col("n_chars") * 10_000_000_000 + F.col("doc_id")).alias("ck")
        )
        write_range_sorted_shards(d, path, order_col="ck", n_shards=8)
    lo, hi = 60 * 10_000_000_000, 81 * 10_000_000_000 - 1
    return read_range_sorted_shards(spark, path, lo=lo, hi=hi).select(
        "doc_id", "shard_id"
    )
