"""Clustering: threshold filter + connected components (reference parity:
SURVEY §2.10 L6 — Splink ``cluster_pairwise_predictions_at_threshold``).

Connected components is the one operator here with no Spark built-in.
Implementation: the **alternating large-star / small-star** algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
public algorithm), expressed as pure DataFrame joins/aggregations:

- converges in O(log n) rounds on any graph shape (a naive min-label
  propagation needs O(diameter) rounds — unbounded on chain-shaped
  clusters),
- every round is two self-joins + one aggregation on the *edge* table,
  which shrinks toward a star forest as it converges,
- ``localCheckpoint()`` every round truncates lineage, otherwise iterative
  plans blow up the optimizer at scale (SURVEY §7 watch list).

Node ids are compared with their natural ordering; the component id is the
minimum member id (deterministic).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def collect_if_small(df: DataFrame, threshold: int):
    """Bounded-probe collect, the adaptive-execution switch of
    :func:`connected_components` and ``graph.pagerank``/``graph.hits``:
    a ``limit(threshold + 1)`` count ships ONE long to the driver; only
    when the frame is actually small do the (cached) rows follow. The
    probe's persist makes the often-expensive lineage (blocking join +
    scoring) execute once — the collect reads cache, never recomputes.
    Returns the row list, or None when the frame exceeds ``threshold``
    (no row ever crossed)."""
    lim = df.limit(threshold + 1).persist()
    try:
        n = lim.count()
        return lim.collect() if n <= threshold else None
    finally:
        lim.unpersist()


def _symmetrize(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev).where(F.col("src") != F.col("dst")).distinct()


def _star_round(nbrs: DataFrame, large: bool) -> DataFrame:
    """One large-star (connect strictly-greater neighbors to the
    neighborhood minimum) or small-star (connect ≤ neighbors) round.
    ``nbrs`` must be symmetric. Returns a directed child→root edge list."""
    min_nbr = nbrs.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("mn")
    )
    joined = nbrs.join(min_nbr, "src")
    if large:
        emitted = joined.where(F.col("dst") > F.col("src"))
    else:
        emitted = joined.where(F.col("dst") <= F.col("src"))
    out = emitted.select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
    # small-star also links each center to its min
    self_link = min_nbr.select(F.col("src"), F.col("mn").alias("dst"))
    if not large:
        out = out.unionByName(self_link)
    return out.where(F.col("src") != F.col("dst")).distinct()


def _union_find_components(edge_rows, spark) -> DataFrame:
    """Driver-side union-find with min-id representatives — exact same
    contract as the distributed path, for edge sets small enough to
    collect. O(E α(E)) and no per-iteration job overhead."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for s, d in edge_rows:
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            # union by MIN id so the representative is the component min
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo
    import pandas as pd

    rows = [(n, find(n)) for n in parent]
    # Arrow-backed creation: a plain-list createDataFrame goes through the
    # pickle/RDD path (schema inference + one task per default-parallelism
    # slice — ~1.4 s of overhead for a 1000-row result)
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["node", "component"])
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iterations: int = 30,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components of an undirected edge list.

    Returns ``(node, component)`` covering every node that appears in
    ``edges``; ``component`` is the minimum node id of the component.

    Adaptive execution: edge sets under ``driver_threshold`` collect to a
    driver union-find (iterative Spark jobs cost ~0.5 s each in fixed
    overhead — a 10^5-edge graph finishes in milliseconds on the driver).
    Larger graphs run the O(log n)-round distributed star algorithm. Both
    paths produce identical output.

    Memory math for ``driver_threshold`` (the only driver-side state):
    the probe collects at most ``threshold + 1`` edge Rows (~200 B each
    incl. Python object overhead → ~200 MB transient at the default
    10⁶), and the union-find holds one int→int dict entry per distinct
    node (≤ 2 per edge; CPython dict + boxed ints ≈ 100 B/entry →
    ≤ ~200 MB at the default). So the default fits comfortably in a
    couple-GB driver; lower it on thin drivers, raise it only with
    driver memory to spare. Above the threshold NO edge rows ever reach
    the driver: the size probe is ``limit(threshold+1).count()`` — one
    long — and the star rounds exchange edges among executors only
    (pinned by tests/test_cluster.py::
    test_over_threshold_takes_distributed_path_without_edge_collect).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))

    # fast path first: union-find tolerates duplicate/directed/self-loop
    # edges, so the raw edge list collects without the symmetrize+distinct
    # shuffle (self-loops register the node, then union is a no-op — the
    # node still comes out as a singleton component). The size probe is a
    # bounded DISTRIBUTED count (collect_if_small), so a 100M-edge graph
    # pays no driver transfer before taking the distributed path.
    probe_rows = collect_if_small(e, driver_threshold)
    if probe_rows is not None:
        rows = [(r["src"], r["dst"]) for r in probe_rows]
        if not rows:
            return e.limit(0).select(
                F.col("src").alias("node"), F.col("dst").alias("component")
            )
        return _union_find_components(rows, edges.sparkSession)

    # nodes appearing ONLY in self-loop edges vanish from the symmetrized
    # edge set; remember every node so they come back as singletons
    nodes = (
        e.select("src")
        .unionByName(e.select(F.col("dst").alias("src")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = _symmetrize(e).localCheckpoint(eager=True)

    prev_sig = None
    converged = False
    for _ in range(max_iterations):
        e = _star_round(_symmetrize(e), large=True)
        e = _star_round(_symmetrize(e), large=False)
        e = e.localCheckpoint(eager=True)
        sig = e.agg(
            F.count("*").alias("n"),
            # order-independent signature; bit_xor can't overflow under ANSI
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).collect()[0]
        cur_sig = (sig["n"], sig["h"])
        if cur_sig == prev_sig:
            converged = True
            break
        prev_sig = cur_sig
    if not converged:
        warnings.warn(
            "connected_components: edge-set signature did not stabilize "
            f"within max_iterations={max_iterations}; components may be "
            "split — raise max_iterations",
            RuntimeWarning,
            stacklevel=2,
        )

    # converged edge set is a star forest: src → root; union in every input
    # node as its own candidate root so isolated nodes survive
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    selves = nodes.select(F.col("src").alias("node"), F.col("src").alias("component"))
    return members.unionByName(roots).unionByName(selves).groupBy("node").agg(
        F.min("component").alias("component")
    )


def cluster_at_threshold(
    records: DataFrame,
    predictions: DataFrame,
    threshold: float = 0.8,
    unique_id: str = "unique_id",
) -> DataFrame:
    """Reference ``best_clusters_at_threshold`` semantics
    (autolinker.py:1063-1094): filter pairwise predictions at ``threshold``,
    run connected components, join ``cluster_id`` back onto the records.
    Singletons get their own id as cluster_id.

    The components table has one row per matched record — near |records|
    when duplicate rates are high — so the join back is left to AQE/size
    thresholds rather than force-broadcast (a forced broadcast OOMs the
    driver at high match rates on big inputs).
    """
    edges = predictions.where(F.col("match_probability") >= threshold).select(
        F.col(f"{unique_id}_l").alias("src"), F.col(f"{unique_id}_r").alias("dst")
    )
    comp = connected_components(edges).withColumnRenamed("node", unique_id)
    joined = records.join(comp, unique_id, "left")
    return joined.withColumn(
        "cluster_id", F.coalesce(F.col("component"), F.col(unique_id))
    ).drop("component")
