"""Profiling aggregations (reference parity: SURVEY §2.4 A1–A10).

The reference implements these as Scala ``TypedImperativeAggregate``\\ s with
row-at-a-time ``eval`` and Kryo-serialized map buffers
(ARC_EntropyAggExpression.scala, ARC_CombinatorialCountAgg.scala,
ARC_MergeCountMapAgg.scala). Here every one is a pure DataFrame program —
partial aggregation, codegen and spill handling come from Catalyst for
free, and nothing is ever a driver-side map except the final small result.

Key pattern: **melt-then-group**. To aggregate over many columns in one
pass, explode an array of (column-name, value) structs and group once —
one shuffle total instead of one job per column.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from itertools import combinations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Separator for concatenated combination value-tuples. The reference
# concatenates values with no separator (ARC_CombinatorialCountAgg.scala:30),
# which conflates ("ab","c") with ("a","bc"); a control char avoids that.
COMBO_VALUE_SEP = chr(31)  # ASCII unit separator


def melt(
    df: DataFrame,
    columns: Sequence[str],
    key_col: str = "col",
    value_col: str = "val",
    id_cols: Sequence[str] = (),
) -> DataFrame:
    """Wide→long reshape via a single generator projection (no shuffle)."""
    kv = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias(key_col), F.col(c).cast("string").alias(value_col)
                )
                for c in columns
            ]
        )
    ).alias("kv")
    return df.select(*[F.col(c) for c in id_cols], kv).select(
        *id_cols, f"kv.{key_col}", f"kv.{value_col}"
    )


def value_counts(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """(col, val, cnt) for every column in one pass — the DataFrame
    equivalent of the reference's per-column count maps."""
    return (
        melt(df, columns)
        .groupBy("col", "val")
        .agg(F.count("*").alias("cnt"))
    )


def column_entropies(
    df: DataFrame,
    columns: Sequence[str],
    base: float | str = math.e,
) -> dict[str, float]:
    """Per-column Shannon entropy ``−Σ p·log_base p`` in one shuffle
    (reference A3, ARC_EntropyAggExpression.scala:48-68; pure-PySpark proof
    at reference archive/autolinker.py:69-93): :func:`entropy_df`,
    collected.

    ``base`` may be a number, or ``"distinct"`` to use each column's own
    distinct-value count as the log base (the reference's base-0/auto mode,
    ARC_EntropyAggExpression.scala:57-63) — entropy then lands in [0, 1].
    """
    got = {
        r["col"]: float(r["entropy"] or 0.0)
        for r in entropy_df(df, columns, base).collect()
    }
    return {c: got.get(c, 0.0) for c in columns}


def entropy_df(
    df: DataFrame, columns: Sequence[str], base: float | str = math.e
) -> DataFrame:
    """Distributed variant of :func:`column_entropies`: returns a DataFrame
    ``(col, entropy)`` without collecting — composable into larger plans.
    ``base`` as there; a column with one distinct value has entropy 0 in
    ``"distinct"`` mode."""
    vc = value_counts(df, columns)
    w = Window.partitionBy("col")
    p = F.col("cnt") / F.sum("cnt").over(w)
    if base == "distinct":
        n = F.count("*").over(w)
        denom = F.when(n > 1, F.log(n)).otherwise(F.lit(1.0))
    else:
        denom = F.lit(math.log(float(base)))
    return (
        vc.select("col", (-p * F.log(p)).alias("term"), denom.alias("denom"))
        .groupBy("col")
        .agg((F.sum("term") / F.max("denom")).alias("entropy"))
    )


def max_distinct_count(
    df: DataFrame, columns: Sequence[str], *, exact: bool = True
) -> int:
    """Max #distinct values of any attribute column (A8,
    autolinker.py:597-602) — single agg job, not one per column.

    ``exact=True`` (default) matches the reference bit-for-bit; note Spark
    rewrites multi-column exact distincts with an Expand (one data copy
    per column). ``exact=False`` uses HLL ``approx_count_distinct`` —
    one pass, no Expand, ±2.3% — the right choice at 100 TB when the
    count only seeds a log base."""
    agg_fn = F.countDistinct if exact else F.approx_count_distinct
    row = df.agg(*[agg_fn(c).alias(c) for c in columns]).collect()[0]
    return max(int(row[c]) for c in columns)


def column_combinations(
    columns: Sequence[str], max_k: int
) -> list[tuple[str, ...]]:
    """All k-combinations of attribute columns for k = 1..max_k (reference
    F10 generators, ARC_Combinations.scala:33-52 — enumerated driver-side;
    the input is a column-name list, never data-scale)."""
    out: list[tuple[str, ...]] = []
    for k in range(1, max_k + 1):
        out.extend(combinations(sorted(columns), k))
    return out


def combo_value_counts(
    df: DataFrame,
    combos: Sequence[tuple[str, ...]],
    *,
    min_count: int = 1,
) -> DataFrame:
    """Per-combination value-tuple counts (reference A4,
    ARC_CombinatorialCountAgg.scala): for every column combination, how many
    rows share each value tuple. One explode + one shuffle for ALL
    combinations (the reference builds per-partition maps and merges them).

    Output: (combo STRING 'a,b', vals STRING, cnt LONG), filtered to
    ``cnt >= min_count`` (the reference prunes rare keys at merge time).
    """
    structs = [
        F.struct(
            F.lit(",".join(combo)).alias("combo"),
            F.concat_ws(COMBO_VALUE_SEP, *[F.col(c).cast("string") for c in combo]).alias(
                "vals"
            ),
        )
        for combo in combos
    ]
    exploded = df.select(F.explode(F.array(*structs)).alias("kv")).select(
        "kv.combo", "kv.vals"
    )
    counts = exploded.groupBy("combo", "vals").agg(F.count("*").alias("cnt"))
    if min_count > 1:
        counts = counts.where(F.col("cnt") >= min_count)
    return counts


def rule_block_stats(
    combo_counts: DataFrame,
    *,
    trim: bool = True,
    exact_percentiles: bool = False,
) -> DataFrame:
    """Per-rule block statistics from combo value counts (reference A6+W2,
    ARC.scala:31-44): squared block size k = cnt², trimmed to [p10, p90]
    (outliers replaced by the median) then averaged per rule.

    Output: (rule STRING, n_blocks LONG, avg_squared LONG).
    """
    return _block_stats(
        combo_counts, trim=trim, exact_percentiles=exact_percentiles
    ).drop("total_squared")


def _block_stats(
    combo_counts: DataFrame,
    *,
    trim: bool = True,
    exact_percentiles: bool = False,
) -> DataFrame:
    """:func:`rule_block_stats` plus each rule's UNTRIMMED
    ``total_squared = Σ cnt²``, from the same aggregate.

    Output: (rule STRING, n_blocks LONG, avg_squared LONG,
    total_squared LONG).
    """
    k = combo_counts.select(
        F.col("combo").alias("rule"), (F.col("cnt") * F.col("cnt")).alias("k")
    ).withColumn("raw", F.col("k"))
    if trim:
        # reference keeps k strictly inside (p10, p90); anything at or
        # outside the bounds is replaced by the median (ARC.scala:36-40).
        # percentile_approx matches the reference; exact percentiles are
        # cross-engine reproducible (oracle checks) at higher memory cost.
        w = Window.partitionBy("rule")
        if exact_percentiles:
            pct = F.expr("percentile(k, array(0.1D, 0.5D, 0.9D))")
        else:
            pct = F.percentile_approx("k", F.array(F.lit(0.1), F.lit(0.5), F.lit(0.9)), 1000)
        k = k.withColumn("p", pct.over(w)).select(
            "rule",
            "raw",
            F.when(
                (F.col("k") > F.col("p")[0]) & (F.col("k") < F.col("p")[2]),
                F.col("k"),
            )
            .otherwise(F.col("p")[1])
            .alias("k"),
        )
    return k.groupBy("rule").agg(
        F.count("*").alias("n_blocks"),
        F.floor(F.avg("k")).alias("avg_squared"),
        F.sum("raw").alias("total_squared"),
    )


def skew_report(
    df: DataFrame, columns: Sequence[str], *, top: int = 10
) -> DataFrame:
    """Shuffle-key skew diagnostic: for each candidate key column, its
    ``top`` heaviest values with count, share of rows, and the
    column-level max-share — the number that predicts whether a
    groupBy/join keyed on it needs AQE skew handling or salting
    (share ≈ 1/partitions is balanced; share ≫ that means one reducer
    owns the key). One melt + hash-agg pass for ALL columns (the same
    plan shape as :func:`value_counts`), a |values|-sized window for
    ranking — row data never shuffles, only (col, val, cnt) triples.

    Returns ``(col, val, cnt, share, rank, max_share)`` rows, ``rank``
    1-based by (cnt desc, val asc) for deterministic cross-engine ties.
    """
    vc = value_counts(df, columns)
    w = Window.partitionBy("col").orderBy(F.desc("cnt"), F.asc("val"))
    tot = Window.partitionBy("col")
    return (
        vc.withColumn("rank", F.row_number().over(w))
        .withColumn("share", F.round(F.col("cnt") / F.sum("cnt").over(tot), 6))
        .withColumn("max_share", F.max("share").over(tot))
        .where(F.col("rank") <= top)
        .select("col", "val", "cnt", "share", "rank", "max_share")
    )
