"""Operator-inventory query catalog (the driver contract).

Each entry demonstrates one operator family from SURVEY.md §2 as a
(PySpark DataFrame program, equivalent ANSI SQL for DuckDB) pair over the
driver's TPC-H-ish tables. The driver hash-compares both sides at sf0.01,
so every computed column is explicitly aliased AND rounded the same way on
both sides (float sums are order-dependent at the 1e-13 level; rounding to
2-6 decimals makes the hash stable).

Conventions:
- every aggregate/computed column aliased identically in Spark and SQL
- money sums rounded to 2 decimals, ratios/similarities/entropies to 6
- timestamps cast to DATE strings when they appear in output
- deterministic ordering is irrelevant (driver sorts) but ties inside
  window functions are always broken by a unique key
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from auto_data_linkage_spark.cluster import cluster_at_threshold
from auto_data_linkage_spark.compare import (
    ELSE_LEVEL,
    EXACT_LEVEL,
    FUZZY_LEVEL,
    Comparison,
)
from auto_data_linkage_spark.model import (
    _DEFAULT_M,
    _DEFAULT_U,
    FellegiSunterModel,
    candidate_pairs,
)
from auto_data_linkage_spark.session import load_tables, local_rows_df


@dataclass
class QuerySpec:
    """One catalog entry: the Spark program and its DuckDB oracle."""

    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None => non-SQL-expressible; driver does rows-only
    survey: str = ""  # SURVEY.md §2 operator ids this covers


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: str | None, survey: str = ""):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn, sql, survey)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    # the driver runs these with ITS session: pin UTC so timestamp
    # literals/strings agree with DuckDB's timezone-naive values
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return [
        spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names
    ]


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition a freshly read table when its scan has fewer
    partitions than cores — the one place input parallelism is decided.

    A single-row-group parquet file scans as ONE partition, serializing
    CPU-bound per-row work (regex scoring, hashing, per-pair comparisons)
    on one task. Operators take their input as given; the catalog readers
    call this on the bare scan, where the check plans a file scan and runs
    no job. At real scale inputs arrive in many files and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# --------------------------------------------------------------------------
# A1/A10/P5 — the flagship: TPC-H Q1-style grouped aggregation with pushdown
# --------------------------------------------------------------------------
@register(
    "groupby_agg",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                   AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                              AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           ROUND(AVG(l_quantity), 6)                                   AS avg_qty,
           ROUND(AVG(l_discount), 6)                                   AS avg_disc,
           COUNT(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    survey="A1 A10 P5 (TPC-H Q1 shape)",
)
def groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# A2 — global aggregation (groupBy(lit(1)) pattern)
# --------------------------------------------------------------------------
@register(
    "global_agg",
    """
    SELECT COUNT(*)                              AS n_rows,
           COUNT(DISTINCT l_orderkey)            AS n_orders,
           ROUND(SUM(l_extendedprice), 2)        AS total_price,
           ROUND(MIN(l_quantity), 2)             AS min_qty,
           ROUND(MAX(l_quantity), 2)             AS max_qty
    FROM lineitem
    """,
    survey="A2",
)
def global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
    )


# --------------------------------------------------------------------------
# P1/P2/P3 — cleaning projection: lower + strip non-alnum + null sentinel
# --------------------------------------------------------------------------
@register(
    "clean_project",
    """
    SELECT p_partkey,
           LOWER(REGEXP_REPLACE(p_name, '[^A-Za-z0-9 ]+', '', 'g'))  AS name_clean,
           COALESCE(NULLIF(p_brand, 'Brand#33'), 'null_')            AS brand_sentinel
    FROM part
    WHERE p_size > 20
    """,
    survey="P1 P2 P3 P5",
)
def clean_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = _t(spark, sf_dir, "part")
    part = ensure_parallelism(part)
    return part.where(F.col("p_size") > 20).select(
        "p_partkey",
        F.lower(F.regexp_replace("p_name", r"[^A-Za-z0-9 ]+", "")).alias(
            "name_clean"
        ),
        F.coalesce(
            F.nullif(F.col("p_brand"), F.lit("Brand#33")), F.lit("null_")
        ).alias("brand_sentinel"),
    )


# --------------------------------------------------------------------------
# P4 — synthetic id (deterministic row_number flavor)
# --------------------------------------------------------------------------
@register(
    "synthetic_id",
    """
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_orderkey) AS VARCHAR) AS unique_id,
           o_orderkey
    FROM orders
    WHERE o_orderstatus = 'F'
    """,
    survey="P4",
)
def synthetic_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.orderBy("o_orderkey")
    return (
        orders.where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
        .withColumn("unique_id", F.row_number().over(w).cast("string"))
        .select("unique_id", "o_orderkey")
    )


# --------------------------------------------------------------------------
# P7 — conditional projection (when/otherwise relabel)
# --------------------------------------------------------------------------
@register(
    "conditional_projection",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS size_band
    FROM orders
    """,
    survey="P7",
)
def conditional_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("size_band"),
    )


# --------------------------------------------------------------------------
# P6 — deterministic sample (hash-free modulo; seeded rand() is not
# reproducible across engines)
# --------------------------------------------------------------------------
@register(
    "deterministic_sample",
    "SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 20 = 0",
    survey="P6 (deterministic variant)",
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.where(F.col("o_orderkey") % 20 == 0).select(
        "o_orderkey", "o_custkey"
    )


# --------------------------------------------------------------------------
# J1 + A1 — left join of per-group counts back onto rows (cluster-size
# pattern; small side broadcast)
# --------------------------------------------------------------------------
@register(
    "join_left_counts",
    """
    SELECT o.o_orderkey, o.o_custkey, c.cnt AS cust_order_count
    FROM orders o
    LEFT JOIN (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey) c
      ON o.o_custkey = c.o_custkey
    """,
    survey="J1 A1",
)
def join_left_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    counts = orders.groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    return (
        orders.alias("o")
        .join(F.broadcast(counts).alias("c"), "o_custkey", "left")
        .select(
            "o.o_orderkey", "o_custkey", F.col("c.cnt").alias("cust_order_count")
        )
    )


# --------------------------------------------------------------------------
# J2/J3 — multi-way inner equi-join (dim chain; both dims broadcast-able)
# --------------------------------------------------------------------------
@register(
    "join_inner_multi",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(*) AS n_customers, ROUND(SUM(c.c_acctbal), 2) AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    survey="J2 J3 A1",
)
def join_inner_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, nation, region = _t(spark, sf_dir, "customer", "nation", "region")
    return (
        cust.join(
            F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
    )


# --------------------------------------------------------------------------
# J5 + §2.9 — blocking self-join with comparison gammas (the linkage
# workhorse, hash-checked against SQL)
# --------------------------------------------------------------------------
@register(
    "blocking_self_join",
    """
    SELECT l.c_custkey AS custkey_l, r.c_custkey AS custkey_r,
           CASE WHEN l.c_name = r.c_name THEN 2
                WHEN levenshtein(l.c_name, r.c_name) <= 2 THEN 1
                ELSE 0 END AS gamma_name
    FROM customer l
    JOIN customer r
      ON l.c_nationkey = r.c_nationkey
     AND l.c_mktsegment = r.c_mktsegment
     AND l.c_custkey < r.c_custkey
    """,
    survey="J5 §2.9 (blocking + comparison vector)",
)
def blocking_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    (cust,) = _t(spark, sf_dir, "customer")
    model = _name_model(_FS_PRIOR)
    pairs = candidate_pairs(
        ensure_parallelism(cust), model.blocking_rules, model.comparisons,
        "c_custkey", right_df=cust,
    )
    return _each_pair_once(pairs).select(
        F.col("c_custkey_l").alias("custkey_l"),
        F.col("c_custkey_r").alias("custkey_r"),
        F.col("gamma_c_name").alias("gamma_name"),
    )


def _name_model(prior: float | None, **settings) -> FellegiSunterModel:
    """The customer-name model behind the linkage rows: one levenshtein
    ≤ 2 comparison on ``c_name``, blocked on nation and market segment,
    at the engine's default m/u."""
    return FellegiSunterModel(
        [Comparison("c_name", "levenshtein", 2)],
        [("c_nationkey", "c_mktsegment")],
        unique_id="c_custkey",
        prior=prior,
        **settings,
    )


def _each_pair_once(pairs: DataFrame) -> DataFrame:
    """Keep each unordered customer pair once. The linkage rows call the
    engine in link mode, with the repartitioned scan as the probe side
    and the raw scan as the build side: the small file scans as one
    partition, and the per-pair levenshtein work would otherwise run on
    a single task. Catalyst folds this filter into the join condition,
    so the plan is the self-join's; a dedup-mode call would repartition
    the build side too."""
    return pairs.where(F.col("c_custkey_l") < F.col("c_custkey_r"))


def _name_predictions(model: FellegiSunterModel, cust: DataFrame) -> DataFrame:
    """``model``'s predictions over each customer pair once."""
    return _each_pair_once(
        model.predict(ensure_parallelism(cust), right_df=cust)
    )


def _pinned_scores(model: FellegiSunterModel, cust: DataFrame) -> DataFrame:
    """:func:`_name_predictions`' ids and scores, pinned by the first
    job that reads them. A funnel reads them twice (its pair counts,
    then ``cluster_at_threshold``), and at sf0.1 the pin beats doing
    the pair work twice (CHANGES.md)."""
    return (
        _name_predictions(model, cust)
        .select("c_custkey_l", "c_custkey_r", "match_weight", "match_probability")
        .localCheckpoint(eager=False)
    )


# --------------------------------------------------------------------------
# J4 — theta self-join (label pairs excluding self)
# --------------------------------------------------------------------------
@register(
    "theta_join_pairs",
    """
    SELECT l.s_suppkey AS suppkey_l, r.s_suppkey AS suppkey_r
    FROM supplier l
    JOIN supplier r ON l.s_nationkey = r.s_nationkey
                   AND l.s_suppkey <> r.s_suppkey
    """,
    survey="J4",
)
def theta_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    (supp,) = _t(spark, sf_dir, "supplier")
    left = supp.alias("l")
    right = supp.alias("r")
    return left.join(
        right,
        (F.col("l.s_nationkey") == F.col("r.s_nationkey"))
        & (F.col("l.s_suppkey") != F.col("r.s_suppkey")),
    ).select(
        F.col("l.s_suppkey").alias("suppkey_l"),
        F.col("r.s_suppkey").alias("suppkey_r"),
    )


# --------------------------------------------------------------------------
# J6/A4 — join-size estimation WITHOUT joining: Σ count² per blocking key
# --------------------------------------------------------------------------
@register(
    "squared_count_estimate",
    """
    SELECT 'c_mktsegment' AS rule,
           COUNT(*) AS n_blocks,
           CAST(SUM(cnt * cnt) AS BIGINT) AS squared_count,
           SUM(cnt * (cnt - 1) / 2) AS est_pairs
    FROM (SELECT c_mktsegment, COUNT(*) AS cnt FROM customer GROUP BY c_mktsegment)
    """,
    survey="J6 A4 (blocking-rule cost estimation)",
)
def squared_count_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    (cust,) = _t(spark, sf_dir, "customer")
    counts = cust.groupBy("c_mktsegment").agg(F.count("*").alias("cnt"))
    return counts.agg(
        F.lit("c_mktsegment").alias("rule"),
        F.count("*").alias("n_blocks"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("squared_count"),
        F.sum(F.col("cnt") * (F.col("cnt") - 1) / 2).alias("est_pairs"),
    ).select("rule", "n_blocks", "squared_count", "est_pairs")


# --------------------------------------------------------------------------
# A3 — per-column Shannon entropy via melt → group (one shuffle, no UDAF)
# --------------------------------------------------------------------------
@register(
    "entropy",
    """
    WITH melted AS (
        SELECT 'l_returnflag' AS col, l_returnflag AS val FROM lineitem
        UNION ALL
        SELECT 'l_linestatus' AS col, l_linestatus AS val FROM lineitem
    ),
    vc AS (SELECT col, val, COUNT(*) AS cnt FROM melted GROUP BY col, val),
    tot AS (SELECT col, SUM(cnt) AS total FROM vc GROUP BY col)
    SELECT vc.col AS col,
           ROUND(SUM(-(cnt / total) * LN(cnt / total)), 6) AS entropy
    FROM vc JOIN tot ON vc.col = tot.col
    GROUP BY vc.col
    """,
    survey="A3 (ARC_EntropyAggExpression parity)",
)
def entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_linkage_spark.profile import entropy_df

    (li,) = _t(spark, sf_dir, "lineitem")
    ent = entropy_df(li, ["l_returnflag", "l_linestatus"], base=math.e)
    return ent.select("col", F.round("entropy", 6).alias("entropy"))


# --------------------------------------------------------------------------
# A4/A5 — combinatorial value counts (count-map equivalent, exploded form)
# --------------------------------------------------------------------------
@register(
    "combo_counts",
    """
    WITH exploded AS (
        SELECT 'o_orderstatus' AS combo, o_orderstatus AS vals FROM orders
        UNION ALL
        SELECT 'o_orderpriority' AS combo, o_orderpriority AS vals FROM orders
        UNION ALL
        SELECT 'o_orderstatus,o_orderpriority' AS combo,
               o_orderstatus || '|' || o_orderpriority AS vals FROM orders
    )
    SELECT combo, vals, COUNT(*) AS cnt
    FROM exploded GROUP BY combo, vals HAVING COUNT(*) >= 2
    """,
    survey="A4 A5 (combinatorial count agg, exploded count-map)",
)
def combo_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    structs = [
        F.struct(
            F.lit("o_orderstatus").alias("combo"),
            F.col("o_orderstatus").alias("vals"),
        ),
        F.struct(
            F.lit("o_orderpriority").alias("combo"),
            F.col("o_orderpriority").alias("vals"),
        ),
        F.struct(
            F.lit("o_orderstatus,o_orderpriority").alias("combo"),
            F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("vals"),
        ),
    ]
    return (
        orders.select(F.explode(F.array(*structs)).alias("kv"))
        .select("kv.combo", "kv.vals")
        .groupBy("combo", "vals")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= 2)
    )


# --------------------------------------------------------------------------
# A8 — per-column distinct counts in one job
# --------------------------------------------------------------------------
@register(
    "distinct_counts",
    """
    SELECT COUNT(DISTINCT o_orderstatus)   AS n_status,
           COUNT(DISTINCT o_orderpriority) AS n_priority,
           COUNT(DISTINCT o_custkey)       AS n_cust
    FROM orders
    """,
    survey="A8",
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.countDistinct("o_orderstatus").alias("n_status"),
        F.countDistinct("o_orderpriority").alias("n_priority"),
        F.countDistinct("o_custkey").alias("n_cust"),
    )


# --------------------------------------------------------------------------
# W1 — partitioned count window (singleton-relabel pattern)
# --------------------------------------------------------------------------
@register(
    "window_count",
    """
    SELECT o_orderkey,
           COUNT(*) OVER (PARTITION BY o_custkey) AS cust_orders,
           CASE WHEN COUNT(*) OVER (PARTITION BY o_custkey) = 1
                THEN -1 ELSE o_custkey END AS cluster_relabel
    FROM orders
    """,
    survey="W1 P7 (singleton relabel, autolinker.py:1234-1243)",
)
def window_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    cnt = F.count("*").over(w)
    return orders.select(
        "o_orderkey",
        cnt.alias("cust_orders"),
        F.when(cnt == 1, F.lit(-1)).otherwise(F.col("o_custkey")).alias(
            "cluster_relabel"
        ),
    )


# --------------------------------------------------------------------------
# W3 — first-value standardization over an ordered partition
# --------------------------------------------------------------------------
@register(
    "window_first",
    """
    SELECT o_orderkey,
           FIRST_VALUE(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS first_order_of_cust
    FROM orders
    """,
    survey="W3 (cluster canonicalization)",
)
def window_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order_of_cust"),
    )


# --------------------------------------------------------------------------
# T1 — top-k (orderBy + limit → TakeOrderedAndProject)
# --------------------------------------------------------------------------
@register(
    "topk_orderby_limit",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    survey="T1",
)
def topk_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


# --------------------------------------------------------------------------
# T2 — double-sorted pick (500-smallest-then-largest heuristic)
# --------------------------------------------------------------------------
@register(
    "double_sorted_pick",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS total
    FROM (
        SELECT * FROM orders ORDER BY o_totalprice ASC, o_orderkey LIMIT 500
    ) ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
    """,
    survey="T2 (deterministic-rule heuristic shape)",
)
def double_sorted_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.asc("o_totalprice"), "o_orderkey")
        .limit(500)
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(1)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("total"))
    )


# --------------------------------------------------------------------------
# U1/U2 — union + distinct
# --------------------------------------------------------------------------
@register(
    "union_distinct",
    """
    SELECT DISTINCT nationkey FROM (
        SELECT c_nationkey AS nationkey FROM customer
        UNION ALL
        SELECT s_nationkey AS nationkey FROM supplier
    )
    """,
    survey="U1 U2",
)
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, supp = _t(spark, sf_dir, "customer", "supplier")
    return (
        cust.select(F.col("c_nationkey").alias("nationkey"))
        .unionAll(supp.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


# --------------------------------------------------------------------------
# §2.9 — levenshtein comparison levels over blocked pairs
# --------------------------------------------------------------------------
@register(
    "levenshtein_pairs",
    """
    SELECT l.s_suppkey AS suppkey_l, r.s_suppkey AS suppkey_r,
           levenshtein(l.s_name, r.s_name) AS lev
    FROM supplier l JOIN supplier r
      ON l.s_nationkey = r.s_nationkey AND l.s_suppkey < r.s_suppkey
    """,
    survey="§2.9 levenshtein",
)
def levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Blocked on nationkey: the equi-key drives a shuffled hash join, so
    # block sizes (not n²/2) bound the pair count — the plan shape you'd
    # run at 100× scale, unlike an l<r-only BNL cross join.
    (supp,) = _t(spark, sf_dir, "supplier")
    left = supp.alias("l")
    right = supp.alias("r")
    return left.join(
        right,
        (F.col("l.s_nationkey") == F.col("r.s_nationkey"))
        & (F.col("l.s_suppkey") < F.col("r.s_suppkey")),
    ).select(
        F.col("l.s_suppkey").alias("suppkey_l"),
        F.col("r.s_suppkey").alias("suppkey_r"),
        F.levenshtein(F.col("l.s_name"), F.col("r.s_name")).alias("lev"),
    )


# --------------------------------------------------------------------------
# §2.9 — phonetic blocking: soundex-style key (pure built-ins, engine-
# portable spec — see compare.phonetic_key) blocks the self-join; raw-name
# levenshtein scores inside blocks. The blocking pattern Splink users run
# (reference comparison templates include phonetic rules) expressed as an
# equi-key hash join: block sizes bound the pair count, never n².
# --------------------------------------------------------------------------
def _phonetic_sql_entry() -> str:
    from auto_data_linkage_spark.compare import phonetic_key_sql

    k = phonetic_key_sql("string_split(p_name, ' ')[1]")
    return f"""
    WITH keyed AS (
        SELECT p_partkey, p_name, p_brand, {k} AS pkey FROM part
    )
    SELECT l.p_partkey AS partkey_l, r.p_partkey AS partkey_r,
           l.pkey AS pkey,
           levenshtein(l.p_name, r.p_name) AS name_lev
    FROM keyed l JOIN keyed r
      ON l.pkey = r.pkey AND l.p_brand = r.p_brand
     AND l.p_partkey < r.p_partkey
    """


@register(
    "phonetic_blocking_pairs",
    _phonetic_sql_entry(),
    survey="§2.9 phonetic key blocking + levenshtein scoring",
)
def phonetic_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_linkage_spark.compare import phonetic_key

    (part,) = _t(spark, sf_dir, "part")
    # probe side repartitioned (same rationale as blocking_self_join): a
    # single-row-group file scans as ONE partition and the build side
    # broadcasts, so the per-pair levenshtein + phonetic-key work would
    # otherwise serialize on a single task regardless of core count
    part = ensure_parallelism(part)
    keyed = part.select(
        "p_partkey",
        "p_name",
        "p_brand",
        phonetic_key(F.element_at(F.split("p_name", " "), 1)).alias("pkey"),
    )
    left = keyed.alias("l")
    right = keyed.alias("r")
    return left.join(
        right,
        (F.col("l.pkey") == F.col("r.pkey"))
        & (F.col("l.p_brand") == F.col("r.p_brand"))
        & (F.col("l.p_partkey") < F.col("r.p_partkey")),
    ).select(
        F.col("l.p_partkey").alias("partkey_l"),
        F.col("r.p_partkey").alias("partkey_r"),
        F.col("l.pkey").alias("pkey"),
        F.levenshtein(F.col("l.p_name"), F.col("r.p_name")).alias("name_lev"),
    )


# --------------------------------------------------------------------------
# Z-order (Morton) layout clustering: per-column exact-integer scaling +
# bit interleave (operators/zorder.py). The oracle replays the identical
# BIGINT arithmetic, generated from the same (bits, column-order)
# parameters, so z-values are bit-identical cross-engine.
# --------------------------------------------------------------------------
_Z_BITS = 8


def _zorder_sql_entry() -> str:
    n = 2
    terms = " | ".join(
        f"(((c{j} >> {i}) & 1) << {i * n + j})"
        for i in range(_Z_BITS)
        for j in range(n)
    )
    top = (1 << _Z_BITS) - 1
    return f"""
    WITH stats AS (
        SELECT MIN(l_partkey) AS mn0, MAX(l_partkey) AS mx0,
               MIN(l_suppkey) AS mn1, MAX(l_suppkey) AS mx1
        FROM lineitem
    ),
    codes AS (
        SELECT l_orderkey, l_linenumber,
               CASE WHEN mx0 > mn0
                    THEN ((l_partkey - mn0) * {top}) // (mx0 - mn0)
                    ELSE 0 END AS c0,
               CASE WHEN mx1 > mn1
                    THEN ((l_suppkey - mn1) * {top}) // (mx1 - mn1)
                    ELSE 0 END AS c1
        FROM lineitem, stats
    )
    SELECT l_orderkey, l_linenumber, {terms} AS zval FROM codes
    """


@register(
    "zorder_values",
    _zorder_sql_entry(),
    survey="layout clustering: Morton z-value (multi-column scan pruning)",
)
def zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_linkage_spark.operators.zorder import zvalue

    (li,) = _t(spark, sf_dir, "lineitem")
    return zvalue(
        li.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        ["l_partkey", "l_suppkey"],
        bits=_Z_BITS,
    ).select("l_orderkey", "l_linenumber", "zval")


# --------------------------------------------------------------------------
# §2.9 — token-set Jaccard via array built-ins (no UDF)
# --------------------------------------------------------------------------
@register(
    "jaccard_token_pairs",
    """
    SELECT l.p_partkey AS partkey_l, r.p_partkey AS partkey_r,
           ROUND(
             CAST(len(list_intersect(list_distinct(string_split(l.p_name, ' ')),
                                     list_distinct(string_split(r.p_name, ' ')))) AS DOUBLE)
             / len(list_distinct(list_concat(list_distinct(string_split(l.p_name, ' ')),
                                             list_distinct(string_split(r.p_name, ' '))))),
             6) AS jaccard
    FROM part l JOIN part r
      ON l.p_brand = r.p_brand AND l.p_partkey < r.p_partkey
    """,
    survey="§2.9 jaccard (array_intersect/array_union)",
)
def jaccard_token_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_linkage_spark.compare import token_jaccard

    (part,) = _t(spark, sf_dir, "part")
    left = part.alias("l")
    right = part.alias("r")
    return left.join(
        right,
        (F.col("l.p_brand") == F.col("r.p_brand"))
        & (F.col("l.p_partkey") < F.col("r.p_partkey")),
    ).select(
        F.col("l.p_partkey").alias("partkey_l"),
        F.col("r.p_partkey").alias("partkey_r"),
        F.round(
            token_jaccard(F.col("l.p_name"), F.col("r.p_name")), 6
        ).alias("jaccard"),
    )


# --------------------------------------------------------------------------
# §2.9 — jaro-winkler (built-in-expression kernel vs DuckDB's built-in —
# same algorithm, 0.7 boost threshold, max prefix 4)
# --------------------------------------------------------------------------
@register(
    "jaro_winkler_pairs",
    """
    SELECT l.s_suppkey AS suppkey_l, r.s_suppkey AS suppkey_r,
           ROUND(jaro_winkler_similarity(l.s_name, r.s_name), 6) AS jw
    FROM supplier l JOIN supplier r
      ON l.s_nationkey = r.s_nationkey AND l.s_suppkey < r.s_suppkey
    """,
    survey="§2.9 jaro_winkler (built-in-expression kernel)",
)
def jaro_winkler_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_linkage_spark.compare import jaro_winkler

    # Same blocking rationale as levenshtein_pairs: equi-key hash join,
    # never an n²/2 BNL cross join.
    (supp,) = _t(spark, sf_dir, "supplier")
    left = supp.alias("l")
    right = supp.alias("r")
    return left.join(
        right,
        (F.col("l.s_nationkey") == F.col("r.s_nationkey"))
        & (F.col("l.s_suppkey") < F.col("r.s_suppkey")),
    ).select(
        F.col("l.s_suppkey").alias("suppkey_l"),
        F.col("r.s_suppkey").alias("suppkey_r"),
        F.round(jaro_winkler("l.s_name", "r.s_name"), 6).alias("jw"),
    )


# --------------------------------------------------------------------------
# §2.11 SQL-extension surface (reference enable_arc.py): the SAME query
# text runs on both engines, with only the function NAMES swapped —
# Spark uses the registered arc_* functions (sqlext.enable_arc), DuckDB
# its native equivalents. Certifies the registration path end-to-end:
# the declarative SQL UDFs jaro-winkler, token jaccard and md5 hash.
# --------------------------------------------------------------------------
_SQL_UDF_PAIRS_TEMPLATE = """
    SELECT l.p_partkey AS partkey_l, r.p_partkey AS partkey_r,
           ROUND({jw}(l.p_name, r.p_name), 6)  AS name_jw,
           ROUND({jaccard}, 6)                 AS type_jaccard,
           {hash64}                            AS name_hash
    FROM part l JOIN part r
      ON l.p_brand = r.p_brand AND l.p_partkey < r.p_partkey
"""


@register(
    "sql_registered_udfs",
    _SQL_UDF_PAIRS_TEMPLATE.format(
        jw="jaro_winkler_similarity",
        jaccard=(
            "len(list_intersect("
            "  list_distinct(string_split_regex(l.p_type, '\\s+')),"
            "  list_distinct(string_split_regex(r.p_type, '\\s+'))))"
            " * 1.0 / len(list_distinct(list_concat("
            "  list_distinct(string_split_regex(l.p_type, '\\s+')),"
            "  list_distinct(string_split_regex(r.p_type, '\\s+')))))"
        ),
        hash64="CAST(CONCAT('0x', SUBSTR(md5(CONCAT('7|', l.p_name)), 1, 15)) AS BIGINT)",
    ),
    survey="§2.11 SQL registration surface (arc_* via spark.sql, shared text)",
)
def sql_registered_udfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_linkage_spark.sqlext import enable_arc

    enable_arc(spark)
    (part,) = _t(spark, sf_dir, "part")
    part.createOrReplaceTempView("part")
    return spark.sql(
        _SQL_UDF_PAIRS_TEMPLATE.format(
            jw="arc_jaro_winkler",
            jaccard="arc_token_jaccard(l.p_type, r.p_type)",
            hash64="arc_md5_hash64(l.p_name, 7)",
        )
    )


_SQL_ENTROPY_ORACLE = """
    WITH b AS (SELECT p_brand AS v, COUNT(*) AS cnt FROM part GROUP BY 1),
    t AS (SELECT p_type AS v, COUNT(*) AS cnt FROM part GROUP BY 1),
    hb AS (SELECT SUM(-(cnt * 1.0 / (SELECT SUM(cnt) FROM b))
                     * ln(cnt * 1.0 / (SELECT SUM(cnt) FROM b)))
                  / ln(COUNT(*)) AS h FROM b),
    ht AS (SELECT SUM(-(cnt * 1.0 / (SELECT SUM(cnt) FROM t))
                     * ln(cnt * 1.0 / (SELECT SUM(cnt) FROM t)))
                  / ln(COUNT(*)) AS h FROM t)
    SELECT ROUND(hb.h, 6) AS brand_entropy, ROUND(ht.h, 6) AS type_entropy
    FROM hb, ht
"""


@register(
    "sql_entropy_probe",
    _SQL_ENTROPY_ORACLE,
    survey="§2.11 SQL registration surface (arc_entropy aggregate in SQL)",
)
def sql_entropy_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered grouped-agg entropy (auto base = distinct count,
    reference base-0 mode) through spark.sql text, vs an explicit
    DuckDB formulation of the same quantity."""
    from auto_data_linkage_spark.sqlext import enable_arc

    enable_arc(spark)
    (part,) = _t(spark, sf_dir, "part")
    part.createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT ROUND(arc_entropy(p_brand), 6) AS brand_entropy,
               ROUND(arc_entropy(p_type), 6)  AS type_entropy
        FROM part
        """
    )


# --------------------------------------------------------------------------
# L5 — Fellegi–Sunter scoring with the engine's default m/u
# (FellegiSunterModel.predict, hash-checked end-to-end against SQL that
# spells the math out)
# --------------------------------------------------------------------------
_FS_PRIOR = 0.001


def _fs_log2_terms() -> tuple[float, float, float, float]:
    """log2 prior odds at ``_FS_PRIOR`` and the log2 Bayes factors of
    gamma 2, 1 and 0 at the engine's default m/u, for the oracle SQL."""
    return math.log2(_FS_PRIOR / (1 - _FS_PRIOR)), *(
        math.log2(_DEFAULT_M[lvl] / _DEFAULT_U[lvl])
        for lvl in (EXACT_LEVEL, FUZZY_LEVEL, ELSE_LEVEL)
    )


def _fs_sql() -> str:
    prior_odds, bf2, bf1, bf0 = _fs_log2_terms()
    return f"""
    WITH pairs AS (
        SELECT l.c_custkey AS custkey_l, r.c_custkey AS custkey_r,
               CASE WHEN l.c_name = r.c_name THEN 2
                    WHEN levenshtein(l.c_name, r.c_name) <= 2 THEN 1
                    ELSE 0 END AS gamma_name
        FROM customer l JOIN customer r
          ON l.c_nationkey = r.c_nationkey
         AND l.c_mktsegment = r.c_mktsegment
         AND l.c_custkey < r.c_custkey
    )
    SELECT custkey_l, custkey_r, gamma_name,
           ROUND(({prior_odds!r}) + CASE gamma_name
                WHEN 2 THEN {bf2!r} WHEN 1 THEN {bf1!r} ELSE {bf0!r} END, 6)
               AS match_weight,
           ROUND(1.0 / (1.0 + POW(2.0, -(({prior_odds!r}) + CASE gamma_name
                WHEN 2 THEN {bf2!r} WHEN 1 THEN {bf1!r} ELSE {bf0!r} END))), 6)
               AS match_probability
    FROM pairs
    """


@register(
    "fs_score_fixed",
    _fs_sql(),
    survey="L5 (Fellegi-Sunter predict math)",
)
def fs_score_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    (cust,) = _t(spark, sf_dir, "customer")
    scored = _name_predictions(_name_model(_FS_PRIOR), cust)
    return scored.select(
        F.col("c_custkey_l").alias("custkey_l"),
        F.col("c_custkey_r").alias("custkey_r"),
        F.col("gamma_c_name").alias("gamma_name"),
        F.round("match_weight", 6).alias("match_weight"),
        F.round("match_probability", 6).alias("match_probability"),
    )


def _funnel_rows(
    spark: SparkSession, clustered: DataFrame, pair_stages: list
) -> DataFrame:
    """A linkage funnel's counts row: records, then ``pair_stages``
    (``(stage, n)`` pairs), then matched records, clusters and resolved
    entities. The four record-side counts come from one aggregate over
    the cluster sizes of ``cluster_at_threshold``'s output: a record
    touched by a match sits in a cluster of two or more."""
    sizes = clustered.groupBy("cluster_id").agg(F.count("*").alias("size"))
    linked = F.col("size") > 1
    n_records, n_touched, n_clusters, n_entities = sizes.agg(
        F.sum("size"),
        F.coalesce(F.sum(F.when(linked, F.col("size"))), F.lit(0)),
        F.count_if(linked),
        F.count("*"),
    ).first()
    stages = [
        ("records", n_records),
        *pair_stages,
        ("matched_records", n_touched),
        ("clusters", n_clusters),
        ("entities", n_entities),
    ]
    return local_rows_df(
        spark,
        [(i, stage, n) for i, (stage, n) in enumerate(stages)],
        "stage_idx int, stage string, n long",
    )


# --------------------------------------------------------------------------
# Linkage funnel — the whole Fellegi–Sunter pipeline composed as ONE
# counts row (the linkage twin of curation_funnel): records → blocked
# candidate pairs → above-threshold matches → records touched by a
# match → connected clusters → resolved entities. The Spark side runs
# the engine (FellegiSunterModel.predict, then
# cluster.cluster_at_threshold); the oracle re-derives every stage in
# one DuckDB program, recursive-CTE closure included, so a hash match
# certifies the END-TO-END composition (blocking ∘ gamma ∘ FS
# arithmetic ∘ threshold ∘ transitive closure) — the report a
# production linkage run publishes next to its cluster table.
# Threshold on match_weight (exact arithmetic both engines round
# identically): −9.0 sits between the gamma=1 weight (≈ −8.97) and the
# gamma=0 weight (≈ −15.5), so near-matches link and non-matches don't
# — nonempty at every shipped SF (gamma=1 pairs: 58 at sf0.001, 1661
# at sf0.01). Clustering thresholds the probability at that weight, the
# same test: no weight lies within 0.03 of −9.0.
# --------------------------------------------------------------------------
_FUNNEL_MIN_WEIGHT = -9.0


def _linkage_funnel_sql() -> str:
    prior_odds, bf2, bf1, bf0 = _fs_log2_terms()
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
        SELECT l.c_custkey AS custkey_l, r.c_custkey AS custkey_r,
               CASE WHEN l.c_name = r.c_name THEN 2
                    WHEN levenshtein(l.c_name, r.c_name) <= 2 THEN 1
                    ELSE 0 END AS gamma_name
        FROM customer l JOIN customer r
          ON l.c_nationkey = r.c_nationkey
         AND l.c_mktsegment = r.c_mktsegment
         AND l.c_custkey < r.c_custkey
    ),
    matched AS MATERIALIZED (
        SELECT custkey_l, custkey_r FROM pairs
        WHERE ROUND(({prior_odds!r}) + CASE gamma_name
                  WHEN 2 THEN {bf2!r} WHEN 1 THEN {bf1!r}
                  ELSE {bf0!r} END, 6) >= {_FUNNEL_MIN_WEIGHT!r}
    ),
    touched AS MATERIALIZED (
        -- explicit DISTINCT: under WITH RECURSIVE DuckDB gives a
        -- UNION-bodied CTE recursive-iteration semantics and the set
        -- dedup is lost (measured: 2x the true count)
        SELECT DISTINCT k FROM (
            SELECT custkey_l AS k FROM matched
            UNION ALL SELECT custkey_r FROM matched
        )
    ),
    sym AS MATERIALIZED (
        SELECT custkey_l AS src, custkey_r AS dst FROM matched
        UNION SELECT custkey_r, custkey_l FROM matched
    ),
    reach(node, other) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, reach.other FROM sym s JOIN reach ON s.dst = reach.node
    ),
    cc AS MATERIALIZED (
        SELECT node, MIN(other) AS component FROM reach GROUP BY node
    )
    SELECT 0 AS stage_idx, 'records' AS stage, COUNT(*) AS n FROM customer
    UNION ALL
    SELECT 1, 'candidate_pairs', COUNT(*) FROM pairs
    UNION ALL
    SELECT 2, 'matches', COUNT(*) FROM matched
    UNION ALL
    SELECT 3, 'matched_records', COUNT(*) FROM touched
    UNION ALL
    SELECT 4, 'clusters', COUNT(DISTINCT component) FROM cc
    UNION ALL
    SELECT 5, 'entities',
           (SELECT COUNT(*) FROM customer)
           - (SELECT COUNT(*) FROM touched)
           + (SELECT COUNT(DISTINCT component) FROM cc)
    """


@register(
    "linkage_funnel",
    _linkage_funnel_sql(),
    survey="L5+L6 composed: the full linkage pipeline as one counts row "
    "(records -> blocked pairs -> FS threshold matches -> touched "
    "records -> clusters -> resolved entities), recursive-closure "
    "oracle",
)
def linkage_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    (cust,) = _t(spark, sf_dir, "customer")
    scored = _pinned_scores(_name_model(_FS_PRIOR), cust)
    n_pairs, n_matches = scored.agg(
        F.count("*"),
        F.count_if(F.round("match_weight", 6) >= _FUNNEL_MIN_WEIGHT),
    ).first()
    clustered = cluster_at_threshold(
        cust, scored, 1.0 / (1.0 + 2.0 ** -_FUNNEL_MIN_WEIGHT),
        unique_id="c_custkey",
    )
    return _funnel_rows(
        spark, clustered,
        [("candidate_pairs", n_pairs), ("matches", n_matches)],
    )


# --------------------------------------------------------------------------
# L4 ∘ L5 ∘ L6 — the TRAINED funnel: FellegiSunterModel.estimate_m_em
# trains the name comparison's m (fix_u, one comparison, so its
# contingency table is the three gamma-level pair counts) TO
# CONVERGENCE at the reference default em_convergence=0.01 (reference
# autolinker.py:544); predict scores at the session's within-block match
# proportion as the prior, and cluster_at_threshold links at posterior
# ≥ 0.5 (trained match_weight ≥ 0). The ORACLE iterates the same update
# as a recursive CTE, so the hash match certifies the engine's trained
# parameters feeding the L5 threshold and the L6 closure CROSS-ENGINE
# at any SF (no data-dependent literals; the SQL re-derives the fixed
# point itself). The engine's E-step runs in log space, the CTE's on
# the plain products; measured margins between the trained per-gamma
# weights and 0 are ≥ 2.17 at both shipped SFs, so that ulp-order
# jitter cannot flip a pair across the threshold. em_iterations is
# emitted as a funnel stage to pin the EM trajectory itself
# cross-engine (integer — exact). A comment inside the oracle SQL still
# names _em_contingency, the driver-side copy of the EM this row ran
# before it called the engine; the oracle text is kept byte-identical.
# --------------------------------------------------------------------------
_EM_TOL = 0.01  # reference default em_convergence (autolinker.py:544)
_EM_MAX_ITER = 100


def _linkage_funnel_trained_sql() -> str:
    m0_0, u0 = _DEFAULT_M[ELSE_LEVEL], _DEFAULT_U[ELSE_LEVEL]
    m1_0, u1 = _DEFAULT_M[FUZZY_LEVEL], _DEFAULT_U[FUZZY_LEVEL]
    m2_0, u2 = _DEFAULT_M[EXACT_LEVEL], _DEFAULT_U[EXACT_LEVEL]
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
        SELECT l.c_custkey AS custkey_l, r.c_custkey AS custkey_r,
               CASE WHEN l.c_name = r.c_name THEN 2
                    WHEN levenshtein(l.c_name, r.c_name) <= 2 THEN 1
                    ELSE 0 END AS gamma_name
        FROM customer l JOIN customer r
          ON l.c_nationkey = r.c_nationkey
         AND l.c_mktsegment = r.c_mktsegment
         AND l.c_custkey < r.c_custkey
    ),
    cnt AS MATERIALIZED (
        SELECT CAST(SUM(CASE WHEN gamma_name = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
               CAST(SUM(CASE WHEN gamma_name = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
               CAST(SUM(CASE WHEN gamma_name = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2
        FROM pairs
    ),
    -- the EM fixed point derived IN SQL: each recursive row is one
    -- iteration of the identical update _em_contingency runs driver-side
    -- anchor literals CAST to DOUBLE: the recursive CTE's column types
    -- come from the anchor row, and bare decimal literals would type
    -- the whole iteration DECIMAL(p,s) (measured: the EM silently
    -- rounds to 2 decimals and stops an iteration early)
    em(it, m0, m1, m2, lam, delta) AS (
        SELECT 0, CAST({m0_0!r} AS DOUBLE), CAST({m1_0!r} AS DOUBLE),
               CAST({m2_0!r} AS DOUBLE), CAST(0.5 AS DOUBLE),
               CAST(1.0 AS DOUBLE)
        UNION ALL
        SELECT w.it + 1,
               GREATEST(w.q0 / w.s, 1e-9),
               GREATEST(w.q1 / w.s, 1e-9),
               GREATEST(w.q2 / w.s, 1e-9),
               w.s / w.t,
               GREATEST(ABS(GREATEST(w.q0 / w.s, 1e-9) - w.m0),
                        ABS(GREATEST(w.q1 / w.s, 1e-9) - w.m1),
                        ABS(GREATEST(w.q2 / w.s, 1e-9) - w.m2),
                        ABS(w.s / w.t - w.lam))
        FROM (
            SELECT e.it, e.m0, e.m1, e.m2, e.lam, e.delta,
                   v.q0, v.q1, v.q2, v.q0 + v.q1 + v.q2 AS s,
                   c.n0 + c.n1 + c.n2 AS t
            FROM em e, cnt c, LATERAL (
                SELECT c.n0 * ((e.lam * e.m0) / ((e.lam * e.m0) + (1.0 - e.lam) * {u0!r})) AS q0,
                       c.n1 * ((e.lam * e.m1) / ((e.lam * e.m1) + (1.0 - e.lam) * {u1!r})) AS q1,
                       c.n2 * ((e.lam * e.m2) / ((e.lam * e.m2) + (1.0 - e.lam) * {u2!r})) AS q2
            ) v
            WHERE e.delta > {_EM_TOL!r} AND e.it < {_EM_MAX_ITER}
        ) w
    ),
    trained AS MATERIALIZED (
        SELECT it, m0, m1, m2, lam FROM em ORDER BY it DESC LIMIT 1
    ),
    matched AS MATERIALIZED (
        SELECT p.custkey_l, p.custkey_r
        FROM pairs p, trained tr
        WHERE LOG2(tr.lam / (1.0 - tr.lam)) + CASE p.gamma_name
                  WHEN 2 THEN LOG2(tr.m2 / {u2!r})
                  WHEN 1 THEN LOG2(tr.m1 / {u1!r})
                  ELSE LOG2(tr.m0 / {u0!r}) END >= 0.0
    ),
    touched AS MATERIALIZED (
        SELECT DISTINCT k FROM (
            SELECT custkey_l AS k FROM matched
            UNION ALL SELECT custkey_r FROM matched
        )
    ),
    sym AS MATERIALIZED (
        SELECT custkey_l AS src, custkey_r AS dst FROM matched
        UNION SELECT custkey_r, custkey_l FROM matched
    ),
    reach(node, other) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.src, reach.other FROM sym s JOIN reach ON s.dst = reach.node
    ),
    cc AS MATERIALIZED (
        SELECT node, MIN(other) AS component FROM reach GROUP BY node
    )
    SELECT 0 AS stage_idx, 'records' AS stage, COUNT(*) AS n FROM customer
    UNION ALL
    SELECT 1, 'candidate_pairs', COUNT(*) FROM pairs
    UNION ALL
    SELECT 2, 'em_iterations', (SELECT it FROM trained)
    UNION ALL
    SELECT 3, 'matches', COUNT(*) FROM matched
    UNION ALL
    SELECT 4, 'matched_records', COUNT(*) FROM touched
    UNION ALL
    SELECT 5, 'clusters', COUNT(DISTINCT component) FROM cc
    UNION ALL
    SELECT 6, 'entities',
           (SELECT COUNT(*) FROM customer)
           - (SELECT COUNT(*) FROM touched)
           + (SELECT COUNT(DISTINCT component) FROM cc)
    """


@register(
    "linkage_funnel_trained",
    _linkage_funnel_trained_sql(),
    survey="L4+L5+L6 composed: contingency EM trained to convergence "
    "(reference tol 0.01) feeds the FS threshold and closure; the "
    "oracle re-derives the EM fixed point as a recursive CTE — no "
    "data-dependent literals",
)
def linkage_funnel_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    (cust,) = _t(spark, sf_dir, "customer")
    model = _name_model(
        None, em_convergence=_EM_TOL, max_em_iterations=_EM_MAX_ITER
    )
    iters = model.estimate_m_em(
        ensure_parallelism(cust), model.blocking_rules[0]
    )
    model.prior = model.em_lambda
    scored = _pinned_scores(model, cust)
    n_pairs, n_matches = scored.agg(
        F.count("*"), F.count_if(F.col("match_probability") >= 0.5)
    ).first()
    clustered = cluster_at_threshold(cust, scored, 0.5, unique_id="c_custkey")
    return _funnel_rows(
        spark, clustered,
        [
            ("candidate_pairs", n_pairs),
            ("em_iterations", iters),
            ("matches", n_matches),
        ],
    )


# --------------------------------------------------------------------------
# L5 + tf — Fellegi–Sunter scoring with term-frequency adjustment: on an
# exact match the generic u is replaced by the matched VALUE's relative
# frequency, so agreeing on a rare segment scores higher than agreeing on
# a common one (Splink tf-adjustment semantics; the tf_adjustment
# comparison of FellegiSunterModel.predict)
# --------------------------------------------------------------------------
def _fs_tf_sql() -> str:
    prior_odds = math.log2(_FS_PRIOR / (1 - _FS_PRIOR))
    bf_else = math.log2(_DEFAULT_M[ELSE_LEVEL] / _DEFAULT_U[ELSE_LEVEL])
    return f"""
    WITH tf AS (
        SELECT c_mktsegment AS seg,
               COUNT(*) * 1.0 / (SELECT COUNT(*) FROM customer) AS tf
        FROM customer GROUP BY 1
    ),
    pairs AS (
        SELECT l.c_custkey AS custkey_l, r.c_custkey AS custkey_r,
               l.c_mktsegment AS seg_l,
               CASE WHEN l.c_mktsegment = r.c_mktsegment THEN 1 ELSE 0 END
                   AS gamma_seg
        FROM customer l JOIN customer r
          ON l.c_nationkey = r.c_nationkey
         AND CAST(FLOOR(l.c_acctbal / 1000.0) AS INT)
             = CAST(FLOOR(r.c_acctbal / 1000.0) AS INT)
         AND l.c_custkey < r.c_custkey
    )
    SELECT custkey_l, custkey_r, gamma_seg,
           ROUND(({prior_odds!r}) + CASE WHEN gamma_seg = 1
                THEN log2({_DEFAULT_M[EXACT_LEVEL]!r} / GREATEST(tf, 1e-9))
                ELSE {bf_else!r} END, 6) AS match_weight
    FROM pairs JOIN tf ON pairs.seg_l = tf.seg
    """


@register(
    "fs_score_tf",
    _fs_tf_sql(),
    survey="L5 + tf-adjustment (value-frequency Bayes factors)",
)
def fs_score_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    (cust,) = _t(spark, sf_dir, "customer")
    # Two-key block (nation + acctbal-thousands bucket): sub-divides each
    # nation block ~11× so the pair count stays bounded as blocks grow —
    # a single linear-in-n key makes candidate pairs quadratic at scale.
    keyed = cust.withColumn(
        "acctbal_k", F.floor(F.col("c_acctbal") / 1000.0).cast("int")
    )
    model = FellegiSunterModel(
        [Comparison("c_mktsegment", "exact", tf_adjustment=True)],
        [("c_nationkey", "acctbal_k")],
        unique_id="c_custkey",
        prior=_FS_PRIOR,
    )
    # the engine's exact comparison is 2/0; the row reports it as 1/0
    return model.predict(keyed).select(
        F.col("c_custkey_l").alias("custkey_l"),
        F.col("c_custkey_r").alias("custkey_r"),
        (F.col("gamma_c_mktsegment") == EXACT_LEVEL).cast("int").alias("gamma_seg"),
        F.round("match_weight", 6).alias("match_weight"),
    )


# --------------------------------------------------------------------------
# L6 — connected components. Edges: all same-nation supplier pairs. The
# oracle computes true graph connectivity via a recursive-CTE transitive
# closure (DuckDB), then takes the minimum reachable node — NOT the
# nation shortcut — so it validates the algorithm, not the fixture shape.
# --------------------------------------------------------------------------
@register(
    "connected_components",
    """
    WITH RECURSIVE edges AS (
        SELECT CAST(l.s_suppkey AS VARCHAR) AS src,
               CAST(r.s_suppkey AS VARCHAR) AS dst
        FROM supplier l JOIN supplier r
          ON l.s_nationkey = r.s_nationkey AND l.s_suppkey < r.s_suppkey
    ),
    sym AS (
        SELECT src, dst FROM edges
        UNION
        SELECT dst AS src, src AS dst FROM edges
    ),
    reach(node, other) AS (
        SELECT src AS node, src AS other FROM sym
        UNION
        SELECT s.src AS node, reach.other
        FROM sym s JOIN reach ON s.dst = reach.node
    )
    SELECT node, MIN(other) AS component
    FROM reach GROUP BY node
    """,
    survey="L6 (connected components; oracle = recursive transitive closure)",
)
def connected_components_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_linkage_spark.cluster import connected_components

    (supp,) = _t(spark, sf_dir, "supplier")
    left = supp.alias("l")
    right = supp.alias("r")
    edges = left.join(
        right,
        (F.col("l.s_nationkey") == F.col("r.s_nationkey"))
        & (F.col("l.s_suppkey") < F.col("r.s_suppkey")),
    ).select(
        F.col("l.s_suppkey").cast("string").alias("src"),
        F.col("r.s_suppkey").cast("string").alias("dst"),
    )
    return connected_components(edges).orderBy("node")


# --------------------------------------------------------------------------
# Incremental clustering — fold a batch into an existing clustering via
# cluster contraction (incremental.py). Base = suppliers with suppkey % 4
# != 0, clustered by same-nation CC; batch = the rest. The oracle computes
# full-graph connectivity over base ∪ batch with a recursive CTE, so it
# checks the contraction invariant CC(E_base ∪ E_delta) ≡
# expand(CC(contract(E_delta))) — labels included (min-id convention).
# --------------------------------------------------------------------------
@register(
    "incremental_cluster",
    """
    WITH RECURSIVE edges AS (
        SELECT CAST(l.s_suppkey AS VARCHAR) AS src,
               CAST(r.s_suppkey AS VARCHAR) AS dst
        FROM supplier l JOIN supplier r
          ON l.s_nationkey = r.s_nationkey AND l.s_suppkey < r.s_suppkey
    ),
    sym AS (
        SELECT src, dst FROM edges
        UNION
        SELECT dst AS src, src AS dst FROM edges
    ),
    reach(node, other) AS (
        SELECT src AS node, src AS other FROM sym
        UNION
        SELECT s.src AS node, reach.other
        FROM sym s JOIN reach ON s.dst = reach.node
    ),
    cc AS (SELECT node, MIN(other) AS component FROM reach GROUP BY node)
    SELECT CAST(n.s_suppkey AS VARCHAR) AS node,
           COALESCE(cc.component, CAST(n.s_suppkey AS VARCHAR)) AS component
    FROM supplier n LEFT JOIN cc ON CAST(n.s_suppkey AS VARCHAR) = cc.node
    WHERE n.s_suppkey % 4 = 0
    """,
    survey="Incremental clustering (contraction; oracle = full-graph closure)",
)
def incremental_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_linkage_spark.cluster import connected_components
    from auto_data_linkage_spark.incremental import incremental_components

    (supp,) = _t(spark, sf_dir, "supplier")
    s = supp.select(
        F.col("s_suppkey").cast("string").alias("id"), "s_nationkey"
    )
    base = s.where(F.col("id").cast("long") % 4 != 0)
    batch = s.where(F.col("id").cast("long") % 4 == 0)

    def nation_edges(left: DataFrame, right: DataFrame) -> DataFrame:
        l, r = left.alias("l"), right.alias("r")
        return l.join(
            r,
            (F.col("l.s_nationkey") == F.col("r.s_nationkey"))
            & (F.col("l.id") != F.col("r.id")),
        ).select(F.col("l.id").alias("src"), F.col("r.id").alias("dst"))

    base_assign = connected_components(
        nation_edges(base, base).where(F.col("src") < F.col("dst"))
    )
    delta = nation_edges(batch, base).unionByName(
        nation_edges(batch, batch).where(F.col("src") < F.col("dst"))
    )
    comp = incremental_components(base_assign, delta)
    assigned = comp.where(F.col("node").startswith("r:")).select(
        F.col("node").substr(F.lit(3), F.length("node")).alias("node"),
        "component",
    )
    return batch.select(F.col("id").alias("node")).join(
        assigned, "node", "left"
    ).select(
        "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
    )


# --------------------------------------------------------------------------
# A3 auto-base mode — entropy with per-column distinct-count log base
# (the reference's base-0 mode, ARC_EntropyAggExpression.scala:57-63)
# --------------------------------------------------------------------------
@register(
    "entropy_auto_base",
    """
    WITH melted AS (
        SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM orders
        UNION ALL
        SELECT 'o_orderpriority' AS col, o_orderpriority AS val FROM orders
    ),
    vc AS (SELECT col, val, COUNT(*) AS cnt FROM melted GROUP BY col, val),
    tot AS (SELECT col, SUM(cnt) AS total, COUNT(*) AS n_distinct
            FROM vc GROUP BY col)
    SELECT vc.col AS col,
           ROUND(SUM(-(cnt / total) * LN(cnt / total))
                 / CASE WHEN MAX(n_distinct) > 1 THEN LN(MAX(n_distinct))
                        ELSE 1.0 END, 6) AS entropy
    FROM vc JOIN tot ON vc.col = tot.col
    GROUP BY vc.col
    """,
    survey="A3 (auto log base = per-column distinct count)",
)
def entropy_auto_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_linkage_spark.profile import entropy_df

    (orders,) = _t(spark, sf_dir, "orders")
    ent = entropy_df(
        orders, ["o_orderstatus", "o_orderpriority"], base="distinct"
    )
    return ent.select("col", F.round("entropy", 6).alias("entropy"))


# --------------------------------------------------------------------------
# A5/A7 — count-map as MapType + mean over map values (the reference's
# Map[String,Long] artifacts and `mean(ent_map.c)` access pattern)
# --------------------------------------------------------------------------
@register(
    "map_value_stats",
    """
    WITH vc AS (
        SELECT o_orderpriority AS k, COUNT(*) AS cnt FROM orders GROUP BY 1
    )
    SELECT COUNT(*) AS n_keys,
           ROUND(AVG(cnt), 6) AS mean_count,
           MAX(cnt) AS max_count
    FROM vc
    """,
    survey="A5 A7 (count-map merge + mean of map values)",
)
def map_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = _t(spark, sf_dir, "orders")
    # build the MapType artifact exactly like the reference's merged
    # count-map, then aggregate over its values
    vc = orders.groupBy("o_orderpriority").agg(F.count("*").alias("cnt"))
    as_map = vc.agg(
        F.map_from_entries(
            F.collect_list(F.struct("o_orderpriority", "cnt"))
        ).alias("count_map")
    )
    vals = as_map.select(F.explode(F.map_values("count_map")).alias("cnt"))
    return vals.agg(
        F.count("*").alias("n_keys"),
        F.round(F.avg("cnt"), 6).alias("mean_count"),
        F.max("cnt").alias("max_count"),
    )


# --------------------------------------------------------------------------
# F5 — canonical unordered pair key via array_sort (pair-dedup pattern,
# autolinker.py:1173-1183)
# --------------------------------------------------------------------------
@register(
    "canonical_pair_key",
    """
    WITH pairs AS (
        SELECT l.s_suppkey AS a, r.s_suppkey AS b
        FROM supplier l JOIN supplier r
          ON l.s_nationkey = r.s_nationkey AND l.s_suppkey <> r.s_suppkey
    )
    SELECT DISTINCT
        LEAST(a, b) AS key_lo, GREATEST(a, b) AS key_hi
    FROM pairs
    """,
    survey="F5 U2 (array_sort canonical pair key + distinct)",
)
def canonical_pair_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    (supp,) = _t(spark, sf_dir, "supplier")
    left = supp.alias("l")
    right = supp.alias("r")
    pairs = left.join(
        right,
        (F.col("l.s_nationkey") == F.col("r.s_nationkey"))
        & (F.col("l.s_suppkey") != F.col("r.s_suppkey")),
    ).select(
        F.array_sort(
            F.array(F.col("l.s_suppkey"), F.col("r.s_suppkey"))
        ).alias("key")
    )
    return pairs.select(
        F.col("key")[0].alias("key_lo"), F.col("key")[1].alias("key_hi")
    ).distinct()


# --------------------------------------------------------------------------
# J2 — link-mode column-correspondence probe. The reference runs one
# inner join per (colA, colB) pair (autolinker.py:994-1003); we melt both
# schemas to (column, value) long form and count every pairing's
# distinct-value overlap in ONE value-keyed join (linking.py).
# --------------------------------------------------------------------------
@register(
    "link_column_probe",
    """
    WITH lm AS (
        SELECT DISTINCT 'o_orderstatus' AS col_a, o_orderstatus AS val FROM orders
        UNION
        SELECT DISTINCT 'o_orderpriority', o_orderpriority FROM orders
    ),
    rm AS (
        SELECT DISTINCT 'l_returnflag' AS col_b, l_returnflag AS val FROM lineitem
        UNION
        SELECT DISTINCT 'l_linestatus', l_linestatus FROM lineitem
    )
    SELECT col_a, col_b, COUNT(*) AS overlap
    FROM lm JOIN rm USING (val)
    GROUP BY col_a, col_b
    """,
    survey="J2 (cross-schema correspondence probe, melted to one join)",
)
def link_column_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from auto_data_linkage_spark.profile import melt

    orders, lineitem = _t(spark, sf_dir, "orders", "lineitem")
    lm = (
        melt(orders, ["o_orderstatus", "o_orderpriority"])
        .distinct()
        .withColumnRenamed("col", "col_a")
    )
    rm = (
        melt(lineitem, ["l_returnflag", "l_linestatus"])
        .distinct()
        .withColumnRenamed("col", "col_b")
    )
    return (
        lm.join(rm, "val")
        .groupBy("col_a", "col_b")
        .agg(F.count("*").alias("overlap"))
    )


# --------------------------------------------------------------------------
# SQL surface — the exact same ANSI text runs through spark.sql AND the
# oracle: a TPC-H Q3-style shipping-priority join-aggregate.
# --------------------------------------------------------------------------
_SQL_SHARED_Q3 = """
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(o_orderdate AS STRING) AS orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1995-03-15'
      AND l_shipdate > DATE '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
"""


@register(
    "sql_shared_q3",
    _SQL_SHARED_Q3,
    survey="SQL entry point (spark.sql == oracle text, TPC-H Q3 shape)",
)
def sql_shared_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # register the views, then run the LITERAL oracle text through
    # spark.sql — demonstrating the shared ANSI surface end-to-end
    _t(spark, sf_dir, "customer", "orders", "lineitem")
    for name in ("customer", "orders", "lineitem"):
        spark.read.parquet(f"{sf_dir}/{name}.parquet").createOrReplaceTempView(
            name
        )
    return spark.sql(_SQL_SHARED_Q3)


# The driver's correctness gate checks the FIRST 50 registrations
# (DRIVER_WINDOW). These entries are demoted to the back of the catalog
# so every operator FAMILY gets a driver row: each name here duplicates a
# family another in-window query already certifies (entropy_auto_base ≡
# entropy [A3], estimate_vs_true_pairs ≡ squared_count_estimate [J6],
# jaccard_token_pairs ≡ ngram_jaccard_pairs [§2.9 jaccard],
# minhash_signature ⊂ minhash_lsh_pairs, sliding ≡ tumbling window,
# sql_shared_q3 ≡ clean_project [P3], canonical_pair_key ≡ union_distinct
# [U2], fs_score_tf ≡ fs_score_fixed [L5], lang_id_dist ∈ text family ×3,
# ivf_centroids ⊂ ivf_topk, conditional_projection ≡ clean_project
# CASE/WHEN [P7], window_first ≡ window_count family [W1/W3],
# double_sorted_pick ≡ topk_orderby_limit [T1/T2], theta_join_pairs ≡
# blocking_self_join range predicate [J4/J5], map_value_stats'
# map-explode ⊂ combo/profile family [A5/A7]) — all remain covered by
# pytest (tests/test_oracle_window.py runs the SAME Spark-vs-DuckDB
# comparison over every out-of-window entry) and tools/check_oracle.py.
_DEPRIORITIZED = (
    "bm25_topk_synced",  # storage-composition certification row (corpus
    #                      commits → index sync → persisted serve == SQL
    #                      over the head): back-window by design — it
    #                      builds real stores per run, so the cheap
    #                      in-window bm25_topk keeps the driver slot while
    #                      tests/test_oracle_window.py runs this one
    #                      through the identical Spark-vs-DuckDB gate
    "linkage_funnel",  # the counts projection of the L5+L6 composition
    #                    (fs_score_fixed + connected_components both
    #                    in-window); certified back-window by
    #                    tests/test_oracle_window.py with a recursive-
    #                    closure oracle
    "linkage_funnel_trained",  # the L4∘L5∘L6 composition (r15 ask #7):
    #                            same funnel with the EM TRAINED m/λ —
    #                            back-window like its fixed-parameter
    #                            sibling (linkage_funnel family keeps
    #                            fs_score_fixed/connected_components
    #                            front); the oracle re-derives the EM
    #                            fixed point as a recursive CTE
    "curation_funnel",  # the counts projection of curate_documents (in-
    #                     window): same stage chain, same shared oracle
    #                     CTEs, certified stage-by-stage back-window by
    #                     tests/test_oracle_window.py
    "edge_store_pagerank",  # the graph twin of the synced rows: manifest
    #                         edge store (exactly-once appends) → takedown
    #                         tombstone → compaction → PageRank == the
    #                         unrolled fixed point over the filtered
    #                         logical edges; back-window by design (builds
    #                         a real store per run) — domain_pagerank
    #                         keeps the family's driver slot
    "ann_topk_synced",  # the vector twin of bm25_topk_synced: same
    #                     storage-composition certification (corpus
    #                     commits → ANN sync → persisted exact serve ==
    #                     brute-force SQL over the head), back-window by
    #                     design — it builds real stores per run, so the
    #                     cheap in-window ivfpq_topk keeps the driver
    #                     slot while tests/test_oracle_window.py runs
    #                     this one through the identical gate
    "jaro_winkler_pairs",  # sql_registered_udfs exercises the same
    #                        kernel through the registered-SQL surface
    "sql_entropy_probe",  # A3 front row is `entropy`; this certifies the
    #                       registration path via tools/check_oracle.py
    "entropy_auto_base",
    "estimate_vs_true_pairs",
    "jaccard_token_pairs",
    "minhash_signature",
    "sliding_window_agg",
    "sql_shared_q3",
    "canonical_pair_key",
    "fs_score_tf",
    "lang_id_dist",
    "ivf_centroids",
    # round-6 rotation: five single-primitive demos whose primitives stay
    # certified by other in-window rows, displaced so the round-5/6
    # operators (curate_documents, pq_topk, pack_sequences,
    # stratified_sample, ivfpq_topk) get driver rows
    "conditional_projection",
    "window_first",
    "double_sorted_pick",
    "theta_join_pairs",
    "map_value_stats",
    # round-6b rotation: displaced so the five new pipeline operators
    # (chunk_dedup, unigram_logprob, decontaminate, semantic_dedup,
    # mixture_sample) get driver rows; each demotee's family keeps an
    # in-window certifier:
    "winnow_rolling",  # ⊂ winnow_fingerprints (same winnowing family)
    "embedding_quantize",  # ⊂ pq_topk/ivfpq_topk (quantization family)
    "deterministic_sample",  # ≡ stratified_sample / mixture_sample [P6]
    "topk_orderby_limit",  # T1 ≡ T3 cosine_topk + row_number ladders
    # (r7: window_count promoted back — the FAMILIES invariant requires
    # the window-rank family to hold its own driver row; quality_score
    # demoted in exchange, text-analysis keeps 2 front rows)
    "bigram_logprob",  # ⊂ LM-scoring family (in-window unigram_logprob);
    #                    still driver-identically checked by
    #                    tests/test_oracle_window.py
    "simhash",  # ⊂ simhash_near_pairs (superset: signature + banding +
    #             popcount verify stay in-window); displaced so
    #             incremental_dedup_docs gets a driver row
    "global_agg",  # A2 ⊂ groupby_agg's hash-agg family (same partial-agg
    #                plan minus grouping keys; entry() also smoke-runs the
    #                family every round); displaced so bm25_topk gets a
    #                driver row
    "events_dedup_first",  # 5th streaming-family row (tumbling, sessionize,
    #                        asof, interval stay in-window); displaced so
    #                        phonetic_blocking_pairs gets a driver row
    "repetition_features",  # 4th text-analysis row (text_features,
    #                         quality_score, pii_scrub stay in-window);
    #                         displaced so zorder_values gets a driver row
    "lsh_topk",  # 5th ANN-family row (cosine, ivf, pq, ivfpq stay
    #              in-window); displaced so count_min_tokens — a family
    #              with no other driver row — gets one
    "distinct_counts",  # A8 single-primitive (max of count-distincts);
    #                     the count family keeps combo_counts, entropy,
    #                     count_min_tokens in-window; displaced so
    #                     split_chunks gets a driver row
    # registered DIRECTLY into the back window (P6 sampling family's
    # 4th/5th rows; stratified_sample + mixture_sample hold the driver
    # rows) — test_oracle_window still runs the full driver comparison:
    "sample_k_per_group",
    "weighted_sample_k",
    # round-6d rotation: displaced so shard_corpus (dataset-export
    # family's only row) and hll_distinct_check (2nd sketch-family row,
    # certifying the HLL merge path) get driver rows:
    # (r7: levenshtein_pairs promoted back — the FAMILIES invariant
    # requires the string-similarity family to hold its own driver row,
    # not ride inside blocking gammas; pq_topk demoted in exchange,
    # ivfpq_topk keeps the PQ machinery's driver row as its superset)
    "ngram_jaccard_pairs",  # ⊂ near_dedup_keep (same shingle-Jaccard
    #                         verify inside the in-window composed
    #                         near-dedup); dedup family keeps 8 rows
    # registered DIRECTLY into the back window (sketch family's 3rd/4th
    # rows; count_min_tokens + hll_distinct_check hold the driver rows)
    # — test_oracle_window still runs the full driver comparison:
    "kll_quantile_check",
    "corpus_overlap_est",
    # registered DIRECTLY into the back window (5th ANN-family row;
    # cosine, ivf, pq, ivfpq hold the driver rows) — test_oracle_window
    # still runs the full driver comparison:
    "knn_graph_stats",
    # back-window: corpus_report composes ONLY already-in-window-
    # certified primitives (counts, entropy, percentile, md5 distinct):
    "corpus_report",
    # back-window: skew_report is the same melt+window family as
    # value_counts/entropy (A3/A5 rows in-window):
    "skew_report",
    # back-window: strip_boilerplate shares the chunk projection +
    # reassembly machinery certified in-window by chunk_dedup:
    "strip_boilerplate",
    # back-window: semantic_decontaminate is the broadcast-probe cosine
    # family (cosine_topk, embedding_near_dup in-window):
    "semantic_decontaminate",
    # back-window: quality_classifier's exact columns reuse certified
    # count/percentile primitives; the IRLS fit itself is pinned by
    # tests/test_classify.py against an independent local reference:
    "quality_classifier",
    # back-window: normalize_text is P2-family cleaning (clean_project
    # in-window); its Arrow NFC step is string-identical cross-engine:
    "normalize_text",
    # round-6e rotation: displaced so bpe_token_stats (the real-BPE
    # tokenizer family's only row) gets a driver row:
    "split_chunks",  # pure sequence/slice/posexplode projection — the
    #                  same primitives drive chunk_dedup AND
    #                  pack_sequences, both in-window
    # round-7 rotation: displaced so span_dedup (offset-robust sliding-
    # gram substring dedup — the Lee'22 recall completion) holds the
    # exact-substring family's driver row; chunk_dedup shares the same
    # chunk projection + first-occurrence window + reassembly machinery
    # and stays driver-identically checked by tests/test_oracle_window.py:
    "chunk_dedup",
    # round-7 rotation: displaced so media_near_dup holds the driver row
    # — it drives the SAME embedding_dup_pairs banded-cosine join, now
    # through the multimodal embed hook (strictly more machinery under
    # the same check); the vector family keeps cosine/ivf/pq/ivfpq +
    # semantic_dedup in-window:
    "embedding_near_dup",
    # round-7 exchanges for the FAMILIES invariant promotions above:
    "quality_score",  # text-analysis keeps text_features + pii_scrub
    #                   front; windows family regains window_count
    "pq_topk",  # flat-ADC small-index path ⊂ ivfpq_topk (front), which
    #             runs the same codebook/ADC machinery cell-pruned;
    #             string-similarity regains levenshtein_pairs
    # registered DIRECTLY into the back window (text-analysis holds
    # text_features + pii_scrub driver rows); integer-exact booleans,
    # driver-identically checked by tests/test_oracle_window.py:
    "gopher_quality_filter",
    # round-9 rotation: gopher_repetition_filter PROMOTED to the driver
    # window (the standing rule — the newest nontrivial text operator
    # holds a hard driver row); synthetic_id demoted in exchange: a
    # single-primitive deterministic row_number projection whose window
    # machinery window_count certifies and whose family keeps
    # clean_project in-window. It stays driver-identically checked by
    # tests/test_oracle_window.py:
    "synthetic_id",
    # round-8 rotation: line_dedup, c4_clean, perplexity_buckets
    # (back-window-only since r7) and the new url_curation promoted to
    # driver rows; four redundant front rows demoted in exchange, each
    # family keeping ≥1 driver row (machine-checked):
    "join_inner_multi",  # join-equi keeps join_left_counts +
    #                      link_column_probe in-window
    "squared_count_estimate",  # blocking keeps blocking_self_join +
    #                            phonetic_blocking_pairs in-window
    "mixture_sample",  # sampling keeps stratified_sample in-window
    "hll_distinct_check",  # sketches keep count_min_tokens in-window
    # registered DIRECTLY into the back window (sampling family holds
    # stratified_sample's driver row; the split is the same portable-
    # hash-threshold machinery, group-keyed):
    "train_val_split",
    # registered DIRECTLY into the back window (profile/audit family
    # holds entropy + trimmed_block_stats driver rows; the diff is one
    # fingerprint projection + full outer equi-join):
    "corpus_diff",
    # registered DIRECTLY into the back window (decontamination family
    # holds decontaminate's driver row; the bloom variant runs the same
    # gram explode with the filter probe as a literal projection — its
    # deterministic FP arithmetic is value-checked by the back-window
    # oracle via tests/test_oracle_window.py):
    "bloom_decontaminate",
    # round-9 rotation: the three new operators (decontaminate_attribution,
    # epoch_mixture, hybrid_topk) promoted to driver rows per the
    # every-new-operator-holds-a-driver-row rule; three redundant
    # single-primitive rows demoted in exchange, each family keeping ≥1
    # driver row (machine-checked):
    "text_features",  # text-analysis keeps pii_scrub + c4_clean +
    #                   gopher_repetition_filter in-window
    "combo_counts",  # agg-groupby keeps groupby_agg in-window
    "cosine_topk",  # ann-search keeps ivf_topk + ivfpq_topk in-window
    #                 (both run the same rounded-cosine scoring path)
    "pii_scrub",  # text-analysis keeps c4_clean +
    #               gopher_repetition_filter in-window (hard_negatives
    #               takes the slot)
    "shard_corpus",  # packing-export keeps pack_sequences in-window
    #                  (fim_split takes the slot)
    # round-9c rotation: dsir_resample (the composite — weights + the
    # Gumbel-top-k selection) takes the driver row for the new dsir
    # family; its weights-only half is certified by the same comparison
    # in the back window, and decontaminate rotates back (its family
    # keeps the strictly-richer decontaminate_attribution in-window,
    # which exercises the identical broadcast shingle-join shape plus
    # per-pair attribution):
    "dsir_logweights",
    "decontaminate",
    # round-9d: near_dedup_keep_best (quality-aware keeper) takes the
    # driver row; the minhash_lsh_pairs primitive rotates back — BOTH
    # in-window composites (near_dedup_keep, near_dedup_keep_best) run
    # its exact banding + guard path end-to-end:
    "minhash_lsh_pairs",
    # round-9e rotation: the three new operators (curriculum_order,
    # sq8_topk, embedding_outliers) promoted to driver rows per the
    # every-new-operator-holds-a-driver-row rule; three redundant front
    # rows demoted in exchange, each family keeping ≥1 driver row
    # (machine-checked):
    "trimmed_block_stats",  # entropy-profile keeps entropy in-window;
    #                         the percentile-window machinery is also
    #                         driven front-window by window_count's family
    "incremental_cluster",  # linkage-pipeline keeps fs_score_fixed +
    #                         connected_components in-window (the same
    #                         union-find/star-rounds machinery)
    "unigram_logprob",  # lm-scoring keeps perplexity_buckets in-window,
    #                     which COMPOSES the unigram model (strictly
    #                     richer machinery under the same check)
    # round-9f rotation: html_extract (HTML→text ingestion) promoted per
    # the every-new-operator-holds-a-driver-row rule; near_dedup_keep
    # demoted — the minhash-lsh family keeps near_dedup_keep_best
    # in-window, which runs the identical banding + guard + CC path
    # end-to-end PLUS the argmax keeper (strictly richer machinery
    # under the same check):
    "near_dedup_keep",
    # registered DIRECTLY into the back window (sampling family holds
    # stratified_sample's driver row; score_prune is the same
    # one-percentile-aggregate + literal-filter machinery curriculum_order
    # certifies front-window) — test_oracle_window runs the full driver
    # comparison:
    "score_prune",
    # registered DIRECTLY into the back window (ann-search family holds
    # ivf_topk/ivfpq_topk/sq8_topk driver rows; the metric's two
    # subqueries are those same certified plans) — test_oracle_window
    # runs the full driver comparison:
    "ann_recall_report",
    # registered DIRECTLY into the back window (substring-dedup family
    # holds span_dedup + line_dedup driver rows; the paragraph unit is
    # the same skew-safe split/window/reassembly plan at block
    # granularity) — test_oracle_window runs the full driver comparison:
    "paragraph_dedup",
    # registered DIRECTLY into the back window (minhash-lsh family holds
    # near_dedup_keep_best's driver row, which runs the same banding +
    # CC machinery; soft-dedup adds one size aggregate + broadcast
    # lookups) — test_oracle_window runs the full driver comparison:
    "duplication_weights",
    # round-9i rotation: the two new link-graph operators (link_graph,
    # domain_pagerank) promoted to driver rows per the
    # every-new-operator-holds-a-driver-row rule; two redundant front
    # rows demoted in exchange, each family keeping ≥1 driver row
    # (machine-checked):
    "c4_clean",  # text-analysis keeps gopher_repetition_filter in-window,
    #              and curate_documents (front) COMPOSES the identical C4
    #              cleaning chain end-to-end (strictly richer machinery
    #              under the same check)
    "interval_join_events",  # temporal-joins keeps asof_join_events
    #                          in-window (the same range-bucketed join
    #                          machinery; interval is the symmetric form)
    # (r10: domain_rank_prune PROMOTED to the driver window per the r9
    # verdict — it is the composition row the link-graph family exists
    # for: extract → pagerank → broadcast gate; link_graph demoted in
    # exchange below.)
    # round-9j rotation: sentence_chunks and anchor_pairs promoted to
    # driver rows per the every-new-operator-holds-a-driver-row rule;
    # two redundant front rows demoted in exchange, each family keeping
    # ≥1 driver row (machine-checked):
    "media_near_dup",  # embedding-dedup keeps semantic_dedup in-window
    #                    (the same banded-cosine + CC machinery; the
    #                    multimodal embed hook stays pytest-driven and
    #                    the media family keeps media_decode_stats front)
    "sessionize",  # streaming-events keeps tumbling_window_agg in-window
    #                (same watermarked stateful-agg machinery; session
    #                windows stay driver-identically checked back-window)
    # registered DIRECTLY into the back window (link-graph family holds
    # link_graph + domain_pagerank + anchor_pairs driver rows; the
    # seeded mode shares the identical iteration plan with a CASE'd
    # teleport term) — test_oracle_window runs the full driver
    # comparison:
    "domain_trustrank",
    # round-9k rotation: site_boilerplate (per-group boilerplate — a new
    # operator) promoted to a driver row; ivf_topk demoted in exchange —
    # the ann-search family keeps ivfpq_topk (which composes the same
    # cell-pruned IVF machinery) and sq8_topk in-window:
    "ivf_topk",
    # round-10 rotation: site_boilerplate_lines (line-unit per-site
    # boilerplate — the case/newline-preserving text-replacement
    # variant) takes the new-operator driver row; the chunk-unit
    # site_boilerplate demotes in exchange — the line variant runs the
    # IDENTICAL detection floor + per-group WindowGroupLimit cap +
    # anti-join + ordered reassembly plan (strictly richer: adds the
    # normalized-key unification), and the token-chunk projection
    # machinery keeps span_dedup/line_dedup/sentence_chunks front:
    "site_boilerplate",
    # round-10: link_graph demoted in exchange for the domain_rank_prune
    # promotion above — the prune COMPOSES the same extract_links scan
    # with pagerank and the authority gate (strictly richer under the
    # same check); the degree/reciprocity stats stay driver-identically
    # checked back-window by test_oracle_window:
    "link_graph",
    # round-12 rotation: source_overlap_matrix promoted to the driver
    # window (the r11 addition's standing-rule driver row: the certified
    # LSH banding chain composed with two unique-key equi-joins and the
    # |sources|²-bounded matrix aggregate); anchor_pairs demoted in
    # exchange — its extraction machinery stays front via html_extract
    # and the link-graph family keeps four driver rows (domain_pagerank,
    # domain_rank_prune, domain_authority_prune, html_extract); the
    # anchor-text pairing stays driver-identically checked back-window:
    "anchor_pairs",
    # round-11 rotation: domain_authority_prune (the HITS composition
    # row over the REAL path — html → extract_links → hits → top-k
    # authority gate, per the r10 verdict #3) promoted; domain_hits
    # demoted in exchange — the composition runs the IDENTICAL 3-
    # iteration fixed-point HITS chain under the same unrolled equality
    # oracle PLUS the extraction scan and the broadcast gate (strictly
    # richer machinery under the same check); the synthetic arithmetic-
    # edge HITS row stays driver-identically checked back-window:
    "domain_hits",
    # round-10b rotation: the two new operators (tfidf_keywords,
    # token_budget_cap) take driver rows per the standing rule; two
    # redundant front rows demoted in exchange, each family keeping ≥1
    # driver row (machine-checked):
    "epoch_mixture",  # sampling keeps stratified_sample front and
    #                   gains token_budget_cap (the same md5-hash
    #                   determinism, now through a window cumsum); the
    #                   epoch-repeat arithmetic stays driver-identically
    #                   checked back-window
    "sq8_topk",  # ann-search keeps ivfpq_topk front (the same
    #              broadcast-probe + cell-prune + WindowGroupLimit
    #              machinery through the richer PQ/ADC path); the SQ8
    #              codec row stays driver-identically checked back-window
    # round-10c rotation: domain_hits (fixed-point HITS — the second
    # exact-equality iterative operator) takes the new-operator driver
    # row; line_dedup demoted in exchange — the substring-dedup family
    # keeps span_dedup, sentence_chunks, and site_boilerplate_lines
    # front (the same explode + window + ordered-reassembly machinery),
    # and line_dedup stays driver-identically checked back-window:
    "line_dedup",
)

# --------------------------------------------------------------------------
# Operator families — the machine-checked window invariant. Every
# registered catalog query belongs to exactly one family, and EVERY
# family must keep ≥1 member inside the driver's front correctness
# window (tests/test_oracle_window.py::test_every_family_holds_a_driver_row).
# Adding a query without a family, or rotating a family's last member
# into the back window, fails CI loudly instead of silently trading an
# operator family's hard driver signal for a pytest-only check.
# --------------------------------------------------------------------------
FAMILIES: dict[str, tuple[str, ...]] = {
    "agg-groupby": ("groupby_agg", "global_agg", "combo_counts",
                    "distinct_counts", "map_value_stats"),
    "projection-cleaning": ("clean_project", "synthetic_id",
                            "conditional_projection", "sql_shared_q3",
                            "normalize_text"),
    "join-equi": ("join_left_counts", "join_inner_multi",
                  "link_column_probe", "theta_join_pairs",
                  "canonical_pair_key"),
    "blocking": ("blocking_self_join", "phonetic_blocking_pairs",
                 "squared_count_estimate", "estimate_vs_true_pairs"),
    "entropy-profile": ("entropy", "sql_entropy_probe", "entropy_auto_base",
                        "trimmed_block_stats", "skew_report",
                        "corpus_report", "corpus_diff"),
    "set-ops": ("union_distinct",),
    "window-rank": ("window_count", "window_first", "topk_orderby_limit",
                    "double_sorted_pick"),
    "string-similarity": ("levenshtein_pairs", "jaccard_token_pairs",
                          "jaro_winkler_pairs", "ngram_jaccard_pairs"),
    "udf-surface": ("sql_registered_udfs",),
    "linkage-pipeline": ("fs_score_fixed", "fs_score_tf",
                         "connected_components", "incremental_cluster",
                         "linkage_funnel", "linkage_funnel_trained"),
    "sampling": ("stratified_sample", "mixture_sample",
                 "deterministic_sample", "sample_k_per_group",
                 "weighted_sample_k", "train_val_split",
                 "epoch_mixture", "score_prune", "token_budget_cap"),
    "text-analysis": ("text_features", "quality_score", "pii_scrub",
                      "lang_id_dist", "repetition_features",
                      "quality_classifier", "gopher_quality_filter",
                      "gopher_repetition_filter", "c4_clean",
                      "tfidf_keywords"),
    "exact-dedup": ("exact_dedup",),
    "minhash-lsh": ("minhash_lsh_pairs", "near_dedup_keep",
                    "near_dedup_keep_best", "minhash_signature",
                    "incremental_dedup_docs", "duplication_weights",
                    "source_overlap_matrix"),
    "simhash": ("simhash_near_pairs", "simhash"),
    "substring-dedup": ("span_dedup", "chunk_dedup", "split_chunks",
                        "strip_boilerplate", "line_dedup",
                        "paragraph_dedup", "sentence_chunks",
                        "site_boilerplate", "site_boilerplate_lines"),
    "embedding-dedup": ("media_near_dup", "embedding_near_dup",
                        "semantic_dedup", "semantic_decontaminate"),
    "decontamination": ("decontaminate", "bloom_decontaminate",
                        "decontaminate_attribution"),
    "ann-search": ("cosine_topk", "ivf_topk", "pq_topk", "ivfpq_topk",
                   "lsh_topk", "ivf_centroids", "embedding_quantize",
                   "knn_graph_stats", "sq8_topk", "ann_recall_report",
                   "ann_topk_synced"),
    "embedding-curation": ("embedding_outliers",),
    "training-order": ("curriculum_order",),
    "html-ingestion": ("html_extract",),
    "lexical-retrieval": ("bm25_topk", "bm25_topk_synced"),
    "hybrid-retrieval": ("hybrid_topk",),
    "dsir": ("dsir_logweights", "dsir_resample"),
    "contrastive-mining": ("hard_negatives",),
    "fim-transform": ("fim_split",),
    "fingerprinting": ("winnow_fingerprints", "winnow_rolling"),
    "lm-scoring": ("unigram_logprob", "bigram_logprob",
                   "perplexity_buckets"),
    "tokenizer": ("bpe_token_stats",),
    "packing-export": ("pack_sequences", "shard_corpus"),
    "sketches": ("count_min_tokens", "hll_distinct_check",
                 "kll_quantile_check", "corpus_overlap_est"),
    "layout": ("zorder_values",),
    "multimodal": ("media_decode_stats",),
    "streaming-events": ("tumbling_window_agg", "sessionize",
                         "sliding_window_agg", "events_dedup_first"),
    "temporal-joins": ("asof_join_events", "interval_join_events"),
    "curation-pipeline": ("curate_documents", "curation_funnel"),
    "url-curation": ("url_curation",),
    "link-graph": ("link_graph", "domain_pagerank", "domain_rank_prune",
                   "anchor_pairs", "domain_trustrank", "domain_hits",
                   "domain_authority_prune", "edge_store_pagerank"),
}

# Invariant: every entry NOT in _DEPRIORITIZED must fit in the driver's
# first-DRIVER_WINDOW correctness window — enforced by _ordered_names and
# tests/test_entry.py, so adding a 51st front query fails fast instead of
# silently pushing an operator family out of the driver's gate.
DRIVER_WINDOW = 50


def _ordered_names() -> list[str]:
    front = [n for n in REGISTRY if n not in _DEPRIORITIZED]
    back = [n for n in REGISTRY if n in _DEPRIORITIZED]
    if len(front) > DRIVER_WINDOW:
        raise AssertionError(
            f"{len(front)} front-window queries exceed the driver's "
            f"first-{DRIVER_WINDOW} correctness window; deprioritize "
            f"{len(front) - DRIVER_WINDOW} redundant entries in "
            "_DEPRIORITIZED so every operator family keeps a driver row"
        )
    return front + back


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_extensions()
    return {name: REGISTRY[name].fn for name in _ordered_names()}


def _load_extensions() -> None:
    """Import sibling catalogs so their @register side effects land in
    REGISTRY (deferred to avoid a circular import at module load)."""
    from auto_data_linkage_spark import queries_llm  # noqa: F401


def oracle_sql() -> dict[str, str]:
    _load_extensions()
    return {
        name: REGISTRY[name].sql
        for name in _ordered_names()
        if REGISTRY[name].sql is not None
    }
