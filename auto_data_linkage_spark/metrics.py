"""Evaluation metrics (reference parity: autolinker.py:149-223 unsupervised
information-gain objective; :1190-1232 supervised pairwise P/R/F1).

All pair-level metrics are computed in Spark (the reference pulls clusters
to pandas/sklearn at autolinker.py:1243 — we stay distributed).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass
class UnsupervisedMetrics:
    # reference naming (autolinker.py:160-185): "scaled" = log base c
    # (#multi-record clusters), "adjusted" = log base u (max #distinct
    # values of any attribute column in the original data)
    scaled_gain: float
    adjusted_gain: float
    information_gain_power_ratio: float


def information_gain_power_ratio(
    data: DataFrame,
    clusters: DataFrame,
    attribute_columns: list[str],
    unique_id: str = "unique_id",
    *,
    base_u: int | None = None,
) -> UnsupervisedMetrics:
    """The reference's unsupervised objective
    (``_calculate_unsupervised_metrics``, autolinker.py:149-223).

    Both entropy terms are computed over the **matched subset** (records in
    multi-record clusters, autolinker.py:202-206): per-column entropy of
    that subset minus the mean per-cluster entropy, **summed** over columns
    (np.sum, autolinker.py:213-214), once in log base ``c`` (#multi-record
    clusters → scaled gain I_s) and once in log base ``u`` (max distinct
    count of any attribute column in the *original* data, evaluate_linker
    autolinker.py:596-602 → adjusted gain I_a). The objective is
    ``I_s ** I_a`` (autolinker.py:217).

    Implementation note: entropies in any base are the natural-log entropy
    divided by ``ln(base)``, so one melt feeds both bases — the reference
    runs four separate entropy-agg jobs. Both entropy sums ride one
    aggregation chain over the value counts and one collect; ``c`` and
    the matched-record count come from the same rows. Cluster sizes are a
    ``groupBy`` joined back, not a window keyed on the cluster, because
    one bad clustering can put most records in a single cluster.
    ``base_u`` depends only on ``data``; a caller scoring many
    clusterings of the same data passes it in (``AutoLinker`` computes it
    once per search) and skips that aggregate.
    """
    multi = (
        clusters.groupBy("cluster_id").count()
        .where(F.col("count") > 1)
        .withColumnRenamed("count", "_csize")
    )
    matched = clusters.join(F.broadcast(multi), "cluster_id", "inner")

    # one melt pass over the matched subset; value counts per
    # (cluster, column, value) feed both entropy terms
    melted = matched.select(
        "cluster_id",
        "_csize",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(col).alias("col"),
                        F.coalesce(
                            F.col(col).cast("string"), F.lit("null_")
                        ).alias("val"),
                    )
                    for col in attribute_columns
                ]
            )
        ).alias("kv"),
    ).select("cluster_id", "_csize", "kv.col", "kv.val")
    vc = melted.groupBy("cluster_id", "_csize", "col", "val").count()

    # both entropy sums per column in one aggregation chain, collected
    # once (one row per column):
    # - over the whole matched subset: with n a value's count, Σ n·ln n
    #   and Σ n = N, the matched-record count, give the entropy
    #   ln N − Σ n·ln n / N;
    # - within clusters: with p = count / cluster size, Σ −p·ln p is the
    #   sum over clusters of the per-cluster entropy, and Σ p is the
    #   number of clusters c (each cluster's p sum to 1). Both are sums
    #   over value-count rows, so they ride the per-value grouping that
    #   the first term needs, and the mean takes no cluster-level pass
    n = F.col("n")
    p = F.col("count") / F.col("_csize")
    rows = (
        vc.groupBy("col", "val")
        .agg(
            F.sum("count").alias("n"),
            F.sum(-p * F.log(p)).alias("h"),
            F.sum(p).alias("q"),
        )
        .groupBy("col")
        .agg(
            F.sum(n * F.log(n)).alias("n_ln_n"),
            F.sum(n).alias("n_matched"),
            F.sum("h").alias("h_within"),
            F.sum("q").alias("c"),
        )
        .collect()
    )
    if not rows:
        return UnsupervisedMetrics(0.0, 0.0, 0.0)
    c = round(rows[0]["c"])
    h_matched = {
        r["col"]: math.log(r["n_matched"]) - r["n_ln_n"] / r["n_matched"]
        for r in rows
    }
    h_within = {r["col"]: r["h_within"] / c for r in rows}

    if base_u is None:
        # max distinct-value count across attribute columns of the ORIGINAL
        # data (A8, autolinker.py:596-602) — one job via a single agg
        row = data.agg(
            *[F.countDistinct(col).alias(col) for col in attribute_columns]
        ).collect()[0]
        base_u = max(max(row[col] for col in attribute_columns), 2)
    base_c = max(c, 2)

    gain_nat = sum(
        h_matched.get(col, 0.0) - h_within.get(col, 0.0)
        for col in attribute_columns
    )
    scaled_gain = gain_nat / math.log(base_c)
    adjusted_gain = gain_nat / math.log(base_u)
    return UnsupervisedMetrics(
        scaled_gain=scaled_gain,
        adjusted_gain=adjusted_gain,
        # pow(I_s, I_a), autolinker.py:217; guard the negative-base /
        # fractional-exponent domain error the reference would hit
        information_gain_power_ratio=math.pow(scaled_gain, adjusted_gain)
        if scaled_gain > 0
        else 0.0,
    )


def clustering_scores(
    clusters: DataFrame,
    true_label: str,
    cluster_col: str = "cluster_id",
) -> dict[str, float]:
    """Supervised clustering scores computed IN SPARK from the
    (cluster, label) contingency counts — replaces the reference's
    ``toPandas`` + sklearn path (autolinker.py:1234-1257); no
    driver-side row data, two jobs over one cached contingency table.

    Returns homogeneity, completeness, V-measure and adjusted Rand index
    with sklearn's formulas: homogeneity = I(C;K)/H(C) and completeness
    = I(C;K)/H(K), the mutual information summed over the contingency
    cells. Each cell term is ``(n/N)·((ln N − ln n_c) + (ln n − ln
    n_k))`` (with the roles of c and k swapped for completeness): when
    one side is constant, or the clustering equals the labels, the two
    brackets cancel exactly, so the degenerate scores are exactly 0.0
    and the perfect ones exactly 1.0 whatever the partitioning.
    """
    cont = (
        clusters.groupBy(cluster_col, true_label)
        .count()
        .select(
            F.col(cluster_col).alias("k"),
            F.col(true_label).alias("c"),
            F.col("count").cast("double").alias("n"),
        )
    ).cache()
    n_total = cont.agg(F.sum("n")).first()[0]
    if not n_total:
        cont.unpersist()
        return {k: 0.0 for k in (
            "homogeneity", "completeness", "v_measure", "adjusted_rand"
        )}
    n, nk, nc = F.col("n"), F.col("nk"), F.col("nc")
    # every logarithm is Spark's, so ln N and ln n_k cancel bit-exactly
    # when n_k = N
    ln_n, ln_nk, ln_nc = F.log(n), F.log(nk), F.log(nc)
    ln_total = F.log(F.lit(float(n_total)))
    w = n / F.lit(float(n_total))
    # marginals ride each cell (two windows); a sum over a marginal is
    # a sum over its cells weighted by n / n_marginal, e.g.
    # H(C) = -Σ_c (n_c/N) ln(n_c/N) = Σ_cells (n/N)(ln N - ln n_c)
    h_c, h_k, mi_c, mi_k, sum_ij, sum_k, sum_c = (
        cont.withColumn("nk", F.sum("n").over(Window.partitionBy("k")))
        .withColumn("nc", F.sum("n").over(Window.partitionBy("c")))
        .agg(
            F.sum(w * (ln_total - ln_nc)),
            F.sum(w * (ln_total - ln_nk)),
            F.sum(w * ((ln_total - ln_nc) + (ln_n - ln_nk))),
            F.sum(w * ((ln_total - ln_nk) + (ln_n - ln_nc))),
            # adjusted Rand pair counts: Σ C(n,2), Σ_k C(n_k,2), Σ_c C(n_c,2)
            F.sum(n * (n - 1) / 2),
            F.sum(n * (nk - 1) / 2),
            F.sum(n * (nc - 1) / 2),
        )
        .first()
    )
    cont.unpersist()
    homogeneity = 1.0 if h_c == 0 else max(mi_c, 0.0) / h_c
    completeness = 1.0 if h_k == 0 else max(mi_k, 0.0) / h_k
    v = (
        0.0
        if homogeneity + completeness == 0
        else 2 * homogeneity * completeness / (homogeneity + completeness)
    )
    total_pairs = n_total * (n_total - 1) / 2
    expected = sum_k * sum_c / total_pairs if total_pairs else 0.0
    max_index = (sum_k + sum_c) / 2
    ari = (
        0.0
        if max_index == expected
        else (sum_ij - expected) / (max_index - expected)
    )
    return {
        "homogeneity": float(homogeneity),
        "completeness": float(completeness),
        "v_measure": float(v),
        "adjusted_rand": float(ari),
    }


def pairwise_prf(
    clusters: DataFrame,
    true_label: str,
    unique_id: str = "unique_id",
) -> dict[str, float]:
    """Supervised pairwise precision/recall/F1/Jaccard from cluster vs
    true-label pair counts (reference autolinker.py:1190-1232), computed
    entirely with aggregations — no pair self-joins.

    #pairs sharing a key = Σ n·(n−1)/2 over key group sizes; true positives
    come from group sizes of the (cluster, label) pair.
    """

    def pair_count(df: DataFrame, keys: list[str]) -> int:
        sizes = df.groupBy(*keys).count()
        row = sizes.agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("p")
        ).collect()[0]
        return int(row["p"] or 0)

    predicted = pair_count(clusters, ["cluster_id"])
    actual = pair_count(clusters, [true_label])
    tp = pair_count(clusters, ["cluster_id", true_label])
    fp = predicted - tp
    fn = actual - tp
    precision = tp / predicted if predicted else 0.0
    recall = tp / actual if actual else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if (precision + recall) > 0
        else 0.0
    )
    jaccard = tp / (tp + fp + fn) if (tp + fp + fn) > 0 else 0.0
    return {
        "true_positives": float(tp),
        "false_positives": float(fp),
        "false_negatives": float(fn),
        "precision": precision,
        "recall": recall,
        "f1": f1,
        "jaccard": jaccard,
    }
