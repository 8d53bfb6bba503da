"""Similarity search over embedding columns (``array<float>``).

Two tiers:

- **Brute-force cosine top-k** — the correctness baseline. Queries
  broadcast against the corpus; the dot product is a codegen'd
  ``aggregate(zip_with(...))`` fold in double precision (no UDF, no Python).
  Cost O(|queries|·n·d) — fine for thousands of queries, and the plan
  shape (broadcast join + window top-k) is exactly what a 1000-executor
  run wants: corpus stays partitioned, queries ship to it.
- **IVF (inverted-file) search** — the scale path. Build centroids per
  coarse cell (here: provided ``label`` buckets, or k-means-lite
  centroids from an aggregation), probe the closest ``nprobe`` cells, and
  search only those cells' rows. Cuts the scan by ~#cells/nprobe at the
  cost of approximate recall — the standard ANN trade.

A vectorized pandas-UDF path (numpy matmul per Arrow batch) is provided
for wide corpora where the per-element fold dominates; semantics are
identical, so tests pin them to each other.

Input partitioning is the caller's: every search builds its plan over
the corpus as given and never repartitions it. The scoring side is
per-row O(|queries|·d) against broadcast queries/probes, so a corpus that
scans as one partition (a single-row-group file) scores on one task —
the catalog reader ``queries_llm._emb`` repartitions such a scan at read
time (measured r15: pq_topk 2.65 s → 0.71 s, ivfpq 2.77 s → 1.03 s at
sf0.1/local[32]). AGGREGATION inputs (centroid means) must see the raw
scan: float sums are order-dependent, and a fixed scan order keeps the
rounded centroids bit-identical to the DuckDB oracle under any core
count — pass ``centroids=`` built from the plain read when the corpus
itself is repartitioned (the catalog also passes ``codebooks=``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot_expr(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double precision as an array fold.

    (A statically-unrolled getItem sum was benchmarked and LOST: ~190-node
    expression trees fall out of whole-stage codegen into interpreted
    eval, which is slower than the native fold over the array data.)
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either vector has zero norm.

    For pair joins prefer :func:`cosine_from_norms` with per-vector norms
    precomputed BEFORE the join — norms are O(n) while pairs are O(n·q),
    so inlining them in the pair expression triples the hot-path work.
    """
    denom = norm_expr(a) * norm_expr(b)
    return F.when(denom > 0, dot_expr(a, b) / denom).otherwise(F.lit(0.0))


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with precomputed norms; same operation order as
    :func:`cosine_expr` (dot / (norm_a * norm_b)), so values are bitwise
    identical — only the evaluation site of the norms moves."""
    denom = na * nb
    return F.when(denom > 0, dot_expr(a, b) / denom).otherwise(F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k: for every query vector, the k most similar
    corpus vectors (excluding itself when ids collide).

    Output: (query_id, neighbor_id, cosine, rank). Queries are broadcast —
    the corpus never shuffles. Ties break by neighbor id (deterministic).
    """
    qid = query_id_col or id_col
    q = queries.select(
        F.col(qid).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm_expr(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm_expr(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_from_norms(
                    F.col("__qvec"), F.col("__cvec"),
                    F.col("__qn"), F.col("__cn"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# ------------------------------------------------------------------- IVF
def build_centroids(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    cell_col: str = "label",
    dim: int | None = None,
) -> DataFrame:
    """Per-cell mean vector as ``dim`` per-index ``avg`` aggregates in ONE
    groupBy — partial aggregation ships k×dim doubles per map task instead
    of n×dim exploded rows, and the whole expression stays inside
    whole-stage codegen. ``dim`` is probed as the max vector size when
    not given."""
    if dim is None:
        # max (not first-row) size: a short or NULL first vector would
        # silently truncate every centroid and make the output depend on
        # scan order
        row = corpus.select(F.max(F.size(F.col(vec_col))).alias("d")).first()
        d = row["d"] if row is not None else None
        if d is None:
            raise ValueError(
                "cannot infer vector dim from an empty/all-null corpus; "
                "pass dim= explicitly"
            )
        dim = int(d)
    # ONE SQL-text expression instead of dim py4j Column constructions:
    # at dim=64 the F.avg(F.get(...)) form costs ~0.5 s of driver-side
    # plan build per invocation (measured; same fix as the PQ path).
    # try_element_at (not [i]): NULL past the end of a short vector —
    # avg skips nulls, matching the old posexplode semantics; ANSI mode
    # makes [i] THROW on ragged inputs.
    avgs = ", ".join(
        f"avg(cast(try_element_at(`{vec_col}`, {i + 1}) as double))"
        for i in range(dim)
    )
    return corpus.groupBy(F.col(cell_col).alias("cell")).agg(
        F.expr(f"array({avgs})").alias("centroid")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "label",
    centroids: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: route each query to its ``nprobe`` closest
    cells (by centroid cosine), then brute-force only within those cells.

    The routing table is queries × #cells — tiny, broadcast. The main join
    is equi on the cell id, so the corpus partition-prunes by cell instead
    of scanning fully. Recall < 1 when a true neighbor lives outside the
    probed cells — the standard IVF trade, tested explicitly.
    """
    cents = centroids if centroids is not None else build_centroids(
        corpus, vec_col=vec_col, cell_col=cell_col, dim=dim
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm_expr(F.col(vec_col)).alias("__qn"),
    )
    routed = (
        q.join(F.broadcast(cents))
        .select(
            "query_id",
            "__qvec",
            "__qn",
            F.col("cell"),
            # rounded so probe routing is reproducible across engines /
            # summation orders (ties then break on the cell id)
            F.round(
                cosine_expr(F.col("__qvec"), F.col("centroid")), 6
            ).alias("cell_sim"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cell_sim"), F.asc("cell"))
    probes = routed.withColumn("cr", F.row_number().over(wq)).where(
        F.col("cr") <= nprobe
    ).select("query_id", "__qvec", "__qn", "cell")

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm_expr(F.col(vec_col)).alias("__cn"),
        F.col(cell_col).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_from_norms(
                    F.col("__qvec"), F.col("__cvec"),
                    F.col("__qn"), F.col("__cn"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


# ----------------------------------------- random-hyperplane LSH (cosine)
def _hyperplane(plane: int, dim: int, seed: int = 0) -> list[float]:
    """Deterministic ±1 hyperplane from md5 bits — reproducible across
    runs/processes without shipping a plane matrix."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.md5(f"{seed}|{plane}|{d}".encode()).digest()[0]
        out.append(1.0 if h & 1 else -1.0)
    return out


def signature_expr(vec: Column, dim: int, n_planes: int = 16, seed: int = 0) -> Column:
    """Sign-of-dot-product bit signature packed into one integer: vectors
    with high cosine similarity agree on most bits (SimHash for cosine —
    public construction).

    Each plane's dot product is an ``aggregate(zip_with(vec, plane, *))``
    fold over a constant-folded array literal — NOT a statically-unrolled
    ``vec[d]·w_d`` sum, whose n_planes×dim-node expression tree falls out
    of whole-stage codegen into interpreted eval (measured: 13.8 s → 3 s
    for the lsh_topk catalog query at sf0.01). Per-element summation order
    is unchanged (d = 0..dim−1), so signatures are bit-identical to the
    unrolled form and to the DuckDB oracle."""
    acc = F.lit(0).cast("bigint")
    for p in range(n_planes):
        # one array literal per plane (not one py4j-shipped literal per
        # ±1 weight — n_planes·dim round-trips of plan-build latency)
        plane = F.lit(_hyperplane(p, dim, seed))
        dot = F.aggregate(
            F.zip_with(vec, plane, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        acc = acc + F.when(dot > 0, F.lit(1 << p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return acc


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    dim: int,
    n_planes: int = 12,
    band_bits: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH: candidates are
    corpus rows sharing at least one signature band with the query, scored
    exactly and ranked. The candidate join is equi on (band, band value) —
    the corpus scan prunes to matching buckets instead of a full sweep.

    Recall rises with fewer bits per band / more bands (here 2 bands of
    ``band_bits``). Deterministic given ``seed`` in the signature.

    ``multiprobe`` (0..``band_bits``) additionally probes, per band, the
    buckets whose value differs from the query's in one of the lowest
    ``multiprobe`` bits — multi-probe LSH (Lv et al., VLDB'07 — public):
    a near neighbor that lands one hyperplane away is found WITHOUT
    growing tables or touching the corpus side. Cost is query-side only
    — probe rows ×(1 + multiprobe), and the query side broadcasts."""
    if not 0 <= multiprobe <= band_bits:
        raise ValueError(
            f"multiprobe must be in [0, band_bits={band_bits}], "
            f"got {multiprobe}"
        )
    n_bands = max(1, n_planes // band_bits)

    def banded(df: DataFrame, id_alias: str, flips: int = 0) -> DataFrame:
        sig = signature_expr(F.col(vec_col), dim, n_planes)
        with_sig = df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(f"__vec_{id_alias}"),
            norm_expr(F.col(vec_col)).alias(f"__n_{id_alias}"),
            sig.alias("__sig"),
        )
        entries = []
        for b in range(n_bands):
            val = (
                F.shiftright(F.col("__sig"), b * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
            )
            entries.append(
                F.struct(F.lit(b).alias("band"), val.alias("val"))
            )
            for j in range(flips):
                entries.append(
                    F.struct(
                        F.lit(b).alias("band"),
                        val.bitwiseXOR(F.lit(1 << j)).alias("val"),
                    )
                )
        return with_sig.select(
            id_alias,
            f"__vec_{id_alias}",
            f"__n_{id_alias}",
            F.explode(F.array(*entries)).alias("b"),
        ).select(
            id_alias, f"__vec_{id_alias}", f"__n_{id_alias}", "b.band", "b.val"
        )

    c = banded(corpus, "neighbor_id")
    q = banded(queries, "query_id", flips=multiprobe)
    cands = (
        c.join(F.broadcast(q), ["band", "val"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            "__vec_query_id", "__vec_neighbor_id",
            "__n_query_id", "__n_neighbor_id",
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_from_norms(
                F.col("__vec_query_id"), F.col("__vec_neighbor_id"),
                F.col("__n_query_id"), F.col("__n_neighbor_id"),
            ),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


# ------------------------------------------------------- k-means (Lloyd)
def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    cell_col: str = "cell",
    metric: str = "cosine",
) -> DataFrame:
    """Attach the nearest-centroid index as ``cell_col``.

    The centroid matrix is tiny (k×d) and ships inside the closure; each
    Arrow batch computes all similarities as one BLAS matmul
    (``mapInPandas``) — the canonical "Python only where vectorized"
    escape hatch. Ties break toward the lower cell index (argmax).
    """
    cmat = np.asarray(centroids, dtype=np.float64)
    if metric == "cosine":
        norms = np.linalg.norm(cmat, axis=1)
        norms[norms == 0] = 1.0
        cmat_n = cmat / norms[:, None]
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(cell_col, T.IntegerType())]
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            if metric == "cosine":
                vn = np.linalg.norm(mat, axis=1)
                vn[vn == 0] = 1.0
                sims = (mat / vn[:, None]) @ cmat_n.T
                cells = np.argmax(sims, axis=1)
            else:  # euclidean
                d2 = (
                    (mat**2).sum(1)[:, None]
                    - 2 * mat @ cmat.T
                    + (cmat**2).sum(1)[None, :]
                )
                cells = np.argmin(d2, axis=1)
            pdf = pdf.copy()
            pdf[cell_col] = cells.astype("int32")
            yield pdf

    return df.mapInPandas(assign, out_schema)


def kmeans_centroids(
    corpus: DataFrame,
    *,
    k: int = 16,
    max_iter: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 0,
    metric: str = "cosine",
    tol: float = 1e-6,
) -> list[list[float]]:
    """Lloyd's k-means over an embedding column, one Spark job per
    iteration (assign → per-cell element-wise mean), centroids collected
    to the driver each round (k×d doubles — tiny).

    Deterministic: initialization is a farthest-first traversal over a
    hash-ordered driver sample (seeded ``xxhash64`` draw, so the sample is
    reproducible across cluster layouts) — the spread-maximizing variant
    of k-means++ that avoids two seeds landing in one tight cluster.
    Empty cells keep their previous centroid. Returns the centroid list;
    feed :func:`assign_cells` + :func:`ivf_topk`
    (``cell_col``/``centroids``) for the full ANN pipeline.
    """
    init_sample = max(k * 32, 1024)
    sample = (
        corpus.select(id_col, vec_col)
        .where(F.col(vec_col).isNotNull())
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(init_sample)
        .collect()
    )
    if not sample:
        raise ValueError("kmeans_centroids: corpus has no non-null vectors")
    smat = np.asarray([list(r[vec_col]) for r in sample], dtype=np.float64)
    if metric == "cosine":
        norms = np.linalg.norm(smat, axis=1)
        norms[norms == 0] = 1.0
        pts = smat / norms[:, None]
    else:
        pts = smat
    chosen = [0]
    d = np.linalg.norm(pts - pts[0], axis=1)
    while len(chosen) < min(k, len(pts)):
        nxt = int(np.argmax(d))  # ties -> lowest index (deterministic)
        chosen.append(nxt)
        d = np.minimum(d, np.linalg.norm(pts - pts[nxt], axis=1))
    cents = [[float(x) for x in smat[i]] for i in chosen]
    base = corpus.select(id_col, vec_col)
    dim = smat.shape[1]
    # ONE SQL-text aggregate instead of dim py4j Column constructions
    # per Lloyd iteration — the same driver-side plan-build fix as
    # build_centroids (commit d43cec0; ~0.5 s/iteration at dim=64
    # measured there); try_element_at so a ragged vector yields NULL
    # (avg skips it) instead of an ANSI error
    avgs = ", ".join(
        f"avg(cast(try_element_at(`{vec_col}`, {i + 1}) as double))"
        for i in range(dim)
    )
    mean_expr = F.expr(f"array({avgs})").alias("m")
    for _ in range(max_iter):
        assigned = assign_cells(base, cents, vec_col=vec_col, metric=metric)
        means = assigned.groupBy("cell").agg(mean_expr).collect()
        new_cents = [list(c) for c in cents]
        for r in means:
            # a NULL per-index mean (cell whose vectors are all shorter
            # than dim) keeps the previous centroid component
            new_cents[r["cell"]] = [
                r["m"][i] if r["m"][i] is not None else cents[r["cell"]][i]
                for i in range(dim)
            ]
        shift = max(
            max((abs(a - b) for a, b in zip(old, new)), default=0.0)
            for old, new in zip(cents, new_cents)
        )
        cents = new_cents
        if shift <= tol:
            break
    return cents


def ivf_kmeans_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 2,
    max_iter: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 0,
) -> DataFrame:
    """IVF ANN with learned k-means cells: train centroids, label the
    corpus, then run :func:`ivf_topk` routing on the trained centroids.
    The corpus labeling and search are lazy DataFrames; only centroid
    training runs jobs eagerly (max_iter rounds)."""
    cents = kmeans_centroids(
        corpus,
        k=n_cells,
        max_iter=max_iter,
        vec_col=vec_col,
        id_col=id_col,
        seed=seed,
    )
    labeled = assign_cells(corpus, cents, vec_col=vec_col, cell_col="__cell")
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(
        pd.DataFrame(
            {"cell": list(range(len(cents))), "centroid": cents}
        )
    )
    return ivf_topk(
        labeled,
        queries,
        k=k,
        nprobe=nprobe,
        vec_col=vec_col,
        id_col=id_col,
        cell_col="__cell",
        centroids=cent_df,
    )


# ------------------------------------------------- vectorized numpy path
def topk_pandas(
    corpus: DataFrame,
    query_vectors: list[tuple[object, list[float]]],
    *,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force top-k with a numpy matmul per Arrow batch
    (``mapInPandas``): the whole query matrix multiplies each corpus batch
    at BLAS speed. Same semantics as :func:`brute_force_topk`; preferred
    when d·|queries| is large enough that the per-element fold dominates.

    ``query_vectors``: [(query_id, vector), ...] — driver-side list,
    broadcast into the closure (small by construction).
    """
    qids = [q for q, _ in query_vectors]
    qmat = np.asarray([v for _, v in query_vectors], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    qnorm[qnorm == 0] = 1.0

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            if mat.size == 0:
                continue
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            sims = (mat @ qmat.T) / norms[:, None] / qnorm[None, :]
            n = len(pdf)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, n),
                    "neighbor_id": np.tile(ids, len(qids)),
                    "cosine": np.round(sims.T.ravel(), 6),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    scored = scored.where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


# ------------------------------------------------------ int8 quantization
def quantize_int8(vec: Column) -> tuple[Column, Column]:
    """Per-vector symmetric int8 quantization: ``q_i = floor(x_i * 127 /
    max|x| + 0.5)``, returned with the scale. Cuts embedding storage 4×
    (the 100 TB lever: a quantized corpus scan reads a quarter of the
    bytes; re-scoring survivors in float is the standard two-phase ANN
    recipe). ``floor(x + 0.5)`` (round-half-up) is used instead of
    ``round`` because engines disagree on half-even vs half-away ties —
    this form is bit-identical across Spark and DuckDB. Zero vectors get
    scale 1.0 and all-zero codes.

    The scale rides into the code lambda via ``zip_with(v,
    array_repeat(scale, size(v)))`` rather than a direct capture: a
    captured subtree re-evaluates INSIDE the lambda per element (the
    max-abs pass and its temp array × dim per row — measured 3–4× the
    whole encode cost at dim 64), while array_repeat evaluates it once
    per row."""
    v = F.transform(vec, lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, F.abs))
    scale = F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(1.0))
    q = F.zip_with(
        v,
        F.array_repeat(scale, F.size(v)),
        lambda x, s: F.floor(x * s + F.lit(0.5)).cast("int"),
    )
    return q, scale


def sq8_encode(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Materializable SQ8 index rows: ``(id, codes array<int>, scale)``
    via :func:`quantize_int8`.  The persisted form of the 4×-smaller
    scan; :func:`sq8_topk` accepts either this or the raw corpus."""
    q, scale = quantize_int8(F.col(vec_col))
    return corpus.select(
        F.col(id_col), q.alias("codes"), scale.alias("scale")
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codes: DataFrame | None = None,
    rerank_factor: int = 0,
) -> DataFrame:
    """Scalar-quantized (SQ8) approximate cosine top-k — the third leg of
    the quantized-ANN family next to :func:`pq_topk` / :func:`ivfpq_topk`
    and the standard first rung of the compression ladder (FAISS's
    public ``SQ8`` index type): per-vector symmetric int8 codes keep
    ~full recall at 4× fewer scan bytes, where PQ trades more recall for
    8-byte codes.

    Cosine is SCALE-INVARIANT, so the score needs no decode at all:
    ``cosine(codes/scale, q) = dot(codes, q) / (‖codes‖·‖q‖)`` — the
    per-vector scale cancels between numerator and denominator.  The
    hot loop is therefore the identical fold :func:`brute_force_topk`
    runs, just over int8 codes instead of floats (the 4× byte saving
    with zero per-pair decode work); deterministic end-to-end (integer
    codes, the same round-half-up rule both engines share), so the
    approximate search has an exact DuckDB twin.  The stored ``scale``
    matters only for reconstruction (L2 / dot-product serving).

    Plan shape: corpus (or a persisted :func:`sq8_encode` table via
    ``codes=``) scans once, queries broadcast, ``rank <= k`` window
    (WindowGroupLimit-eligible) — no UDF, no corpus shuffle.
    ``rerank_factor > 0`` re-scores the ``k·rerank_factor`` shortlist
    against true float vectors, the same two-phase recipe as
    :func:`pq_topk`.  Output: (query_id, neighbor_id, cosine, rank).
    """
    if codes is None:
        coded = sq8_encode(corpus, vec_col=vec_col, id_col=id_col)
    else:
        coded = codes
    c = coded.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("codes").alias("__cvec"),
        norm_expr(F.col("codes")).alias("__cn"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm_expr(F.col(vec_col)).alias("__qn"),
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_from_norms(
                F.col("__qvec"), F.col("__cvec"), F.col("__qn"), F.col("__cn")
            ),
            6,
        ).alias("cosine"),
        "__qvec",
        "__qn",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    if rerank_factor <= 0:
        return (
            scored.drop("__qvec", "__qn")
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k * rerank_factor)
        .select("query_id", "neighbor_id", "__qvec", "__qn")
    )
    truth = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__tvec"),
        norm_expr(F.col(vec_col)).alias("__tn"),
    )
    exact = truth.join(F.broadcast(shortlist), "neighbor_id").select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_from_norms(
                F.col("__qvec"), F.col("__tvec"), F.col("__qn"), F.col("__tn")
            ),
            6,
        ).alias("cosine"),
    )
    return exact.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


# ------------------------------------------------- product quantization
def pq_codebooks(
    corpus: DataFrame,
    *,
    m: int = 8,
    n_codewords: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Sampled PQ codebooks: ``codebooks[j][c]`` is subspace ``j``'s
    codeword ``c`` (a ``dim/m``-float list). Codewords are the subvectors
    of the ``n_codewords`` corpus rows with the smallest portable
    md5-derived id hash, ranked by (hash, id) — a deterministic sample
    both engines can reproduce, the cheap standard stand-in for per-
    subspace k-means when codebooks must be engine-portable (swap in
    kmeans-learned centroids per subspace for production recall).

    Driver transfer is ``n_codewords`` rows (bounded); the result is
    meant to be folded into encode/score expressions as literals, the
    same pattern as the LSH hyperplanes.
    """
    from auto_data_linkage_spark.operators.text import md5_hash64

    rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(md5_hash64(F.col("i").cast("string")), F.col("i"))
        .limit(n_codewords)
        .collect()
    )
    if len(rows) < n_codewords:
        raise ValueError(
            f"corpus has only {len(rows)} rows; need >= {n_codewords} codewords"
        )
    dim = len(rows[0]["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d0 = dim // m
    return [
        [[float(x) for x in r["v"][j * d0 : (j + 1) * d0]] for r in rows]
        for j in range(m)
    ]


def _pq_sub(vec: Column, j: int, d0: int) -> Column:
    """Subvector j as double array (1-based slice)."""
    return F.transform(
        F.slice(vec, j * d0 + 1, d0), lambda x: x.cast("double")
    )


# PQ expressions are built as SQL TEXT parsed JVM-side in one call:
# constructing the same trees through the Python Column API costs dozens
# of py4j round-trips per higher-order function (lambda conversion) and
# one per literal — measured 3-4 s of driver-side plan construction per
# pq query at m=8, k=16 before any row was read. repr() floats
# round-trip exactly through Spark's double parser, so the text form is
# bit-identical to the Column form (oracle-checked).
def _sql_flt(x: float) -> str:
    return repr(float(x)) + "D"


def _sql_arr(w) -> str:
    return "array(" + ",".join(_sql_flt(x) for x in w) + ")"


def _sql_mat(rows) -> str:
    return "array(" + ",".join(_sql_arr(w) for w in rows) + ")"


def _sql_sub(vec_col: str, j: int, d0: int) -> str:
    return (
        f"transform(slice({vec_col}, {j * d0 + 1}, {d0}), "
        "x -> CAST(x AS DOUBLE))"
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, codes[, *keep]) with ``codes[j]`` = nearest codeword
    (squared-L2, ties to the lowest code) of subvector ``j``. ``m·k``
    distance folds per row, all literal-codebook expressions inside
    codegen — 8 int codes replace a 256-byte float vector (the 100 TB
    memory lever). ``keep`` carries extra columns (e.g. the IVF cell id)
    through the encode unchanged."""
    m = len(codebooks)
    d0 = len(codebooks[0][0])

    # Three layers, each a SQL-text expression parsed JVM-side in one
    # call (see _sql_flt note): (1) hoist each subvector so the k
    # distance folds share one slice(), (2) ONE transform over the
    # subspace's codeword MATRIX computes all k distances, (3) argmin.
    # Evaluation order per distance is a sequential fold over
    # d = 0..d0-1, identical to the element-wise form, so codes are
    # bit-identical and the DuckDB oracle still matches.
    subs = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        *[
            F.expr(_sql_sub(vec_col, j, d0)).alias(f"__sub{j}")
            for j in range(m)
        ],
    )
    dists = subs.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        *[
            F.expr(
                f"transform({_sql_mat(codebooks[j])}, w -> "
                f"aggregate(zip_with(__sub{j}, w, "
                "(a, b) -> (a - b) * (a - b)), 0.0D, "
                "(acc, x) -> acc + x))"
            ).alias(f"__d{j}")
            for j in range(m)
        ],
    )
    codes_sql = "array(" + ",".join(
        f"CAST(array_position(__d{j}, array_min(__d{j})) - 1 AS INT)"
        for j in range(m)
    ) + ")"
    return dists.select(
        F.col(id_col),
        F.expr(codes_sql).alias("codes"),
        *[F.col(c) for c in keep],
    )


def _pq_recon_norm(codebooks: list[list[list[float]]]) -> Column:
    """sqrt(Σ_j ||codeword_{j, codes[j]}||²) — the reconstruction's norm as
    a literal-array lookup over the ``codes`` column (no join, codegen)."""
    terms = [
        f"element_at({_sql_arr([sum(x * x for x in w) for w in codebooks[j]])}, "
        f"codes[{j}] + 1)"
        for j in range(len(codebooks))
    ]
    return F.expr("sqrt(" + " + ".join(terms) + ")")


def _pq_adc_dot(
    codebooks: list[list[list[float]]], qvec_col: str = "__qvec"
) -> Column:
    """Asymmetric distance computation: Σ_j q_j · codeword_{j, codes[j]}
    — the query's true subvectors dotted with the corpus row's
    reconstructed codewords, every codebook a constant-folded literal."""
    m = len(codebooks)
    d0 = len(codebooks[0][0])
    terms = [
        f"aggregate(zip_with({_sql_sub(qvec_col, j, d0)}, "
        f"element_at({_sql_mat(codebooks[j])}, codes[{j}] + 1), "
        "(a, b) -> a * b), 0.0D, (acc, x) -> acc + x)"
        for j in range(m)
    ]
    return F.expr(" + ".join(terms))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    m: int = 8,
    n_codewords: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
    rerank_factor: int = 0,
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance computation (ADC):
    corpus rows are scored through their reconstructed codewords —
    ``score = Σ_j q_j · codeword_{j, codes[j]}`` — normalized by the
    true query norm and the reconstruction's norm, so the output is an
    approximate cosine directly comparable to :func:`brute_force_topk`.

    Plan shape: corpus encodes once (literal-codebook folds), queries
    broadcast, per-row scoring is ``element_at`` into literal codeword
    arrays + ``m`` short dot folds — no UDF, no shuffle of the corpus.
    Output: (query_id, neighbor_id, cosine, rank).

    This is FLAT PQ: every coded row scores against every query — right
    for small/medium indexes where the 8-byte codes already fit the scan
    budget. At 100 TB use :func:`ivfpq_topk`, which prunes the ADC scan
    to the ``nprobe`` IVF cells nearest each query.
    """
    cbs = codebooks if codebooks is not None else pq_codebooks(
        corpus, m=m, n_codewords=n_codewords, vec_col=vec_col, id_col=id_col
    )
    coded = pq_encode(corpus, cbs, vec_col=vec_col, id_col=id_col).select(
        F.col(id_col).alias("neighbor_id"),
        "codes",
        _pq_recon_norm(cbs).alias("__cn"),
    )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm_expr(F.col(vec_col)).alias("__qn"),
    )
    joined = coded.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    )
    score = _pq_adc_dot(cbs, "__qvec")
    denom = F.col("__qn") * F.col("__cn")
    cosine = F.when(denom > 0, score / denom).otherwise(F.lit(0.0))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(cosine, 6).alias("cosine"),
        "__qvec",
        "__qn",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    if rerank_factor <= 0:
        return (
            scored.drop("__qvec", "__qn")
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )
    # two-phase recipe: PQ shortlists k·rerank_factor candidates per
    # query from the 8-byte codes, then ONLY the shortlist re-scores
    # against true vectors — exact-cosine cost drops from n·|q| to
    # k·rerank_factor·|q| while recall approaches brute force
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k * rerank_factor)
        .select("query_id", "neighbor_id", "__qvec", "__qn")
    )
    truth = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm_expr(F.col(vec_col)).alias("__cn2"),
    )
    exact = truth.join(F.broadcast(shortlist), "neighbor_id").select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_from_norms(
                F.col("__qvec"), F.col("__cvec"), F.col("__qn"), F.col("__cn2")
            ),
            6,
        ).alias("cosine"),
    )
    return exact.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 2,
    m: int = 8,
    n_codewords: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "label",
    centroids: DataFrame | None = None,
    codebooks: list[list[list[float]]] | None = None,
    dim: int | None = None,
    rerank_factor: int = 0,
) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN index, composed from the
    two halves this module already has — IVF coarse routing
    (:func:`ivf_topk`'s probe plan) prunes WHICH rows score, PQ codes
    (:func:`pq_encode` + ADC) shrink WHAT each row costs to score.

    Plan shape (the 100 TB design): the corpus is encoded once to
    (cell, codes, recon_norm) — 8 int codes + 1 double instead of the
    float vector, so the resident index is ~30× smaller; each query
    routes to its ``nprobe`` nearest cells via the broadcast centroid
    table (queries × #cells, tiny); the probe table broadcasts into an
    equi-join on the cell id, so the coded corpus partition-prunes to
    probed cells — never a full scan, never a nested-loop over the
    corpus (plan-shape-tested). ADC scoring is literal-codebook
    ``element_at`` + ``m`` short dot folds, all inside codegen.

    With ``rerank_factor > 0`` the PQ shortlist (k·factor per query)
    re-scores against true vectors — recall approaches plain IVF at
    exact-cosine cost proportional to the shortlist, not the cell.

    Deterministic end-to-end (label-mean centroids, md5-rank sampled
    codebooks, rounded similarities, id tie-breaks) — so the whole
    composed index has an exact DuckDB oracle twin in the catalog.

    Reference has no ANN operator (LLM-pipeline brief component); output
    matches :func:`ivf_topk`: (query_id, neighbor_id, cosine, rank).
    """
    cents = centroids if centroids is not None else build_centroids(
        corpus, vec_col=vec_col, cell_col=cell_col, dim=dim
    )
    cbs = codebooks if codebooks is not None else pq_codebooks(
        corpus, m=m, n_codewords=n_codewords, vec_col=vec_col, id_col=id_col
    )

    # ---- encode once: (neighbor_id, cell, codes, recon norm) ----------
    coded = pq_encode(
        corpus, cbs, vec_col=vec_col, id_col=id_col, keep=(cell_col,)
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(cell_col).alias("cell"),
        "codes",
        _pq_recon_norm(cbs).alias("__cn"),
    )

    return _ivfpq_score(
        coded,
        cents,
        cbs,
        queries,
        k=k,
        nprobe=nprobe,
        vec_col=vec_col,
        id_col=id_col,
        rerank_factor=rerank_factor,
        corpus=corpus,
    )


def _ivfpq_score(
    coded: DataFrame,
    cents: DataFrame,
    cbs: list[list[list[float]]] | None,
    queries: DataFrame,
    *,
    k: int,
    nprobe: int,
    vec_col: str,
    id_col: str,
    rerank_factor: int = 0,
    corpus: DataFrame | None = None,
    exclude_self: bool = True,
    adc: Column | None = None,
) -> DataFrame:
    """The probe half of :func:`ivfpq_topk` over an ALREADY-CODED
    corpus ``(neighbor_id, cell, codes, __cn)`` — shared by the inline
    path and the persisted-index path (:mod:`.annindex`), so both run
    the identical plan. ``corpus`` (true vectors) is required only
    when ``rerank_factor > 0``. ``exclude_self`` drops hits where
    ``query_id == neighbor_id`` — right for self-search over one id
    space (the inline path); pass ``False`` when serving EXTERNAL
    queries from a persisted index, where an id-value coincidence
    between the two unrelated id spaces would silently lose a true
    neighbor.

    ``adc`` overrides the per-pair score numerator (an expression over
    the coded row and ``__qvec``); the default is the PQ ADC dot from
    ``cbs``. The SQ8 codec passes ``dot_expr(codes, __qvec)`` — cosine
    is scale-invariant so int8 codes score directly (:func:`sq8_topk`)."""
    # ---- route queries to nprobe nearest cells (ivf_topk's plan) ------
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        norm_expr(F.col(vec_col)).alias("__qn"),
    )
    routed = q.join(F.broadcast(cents)).select(
        "query_id",
        "__qvec",
        "__qn",
        F.col("cell"),
        F.round(
            cosine_expr(F.col("__qvec"), F.col("centroid")), 6
        ).alias("cell_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cell_sim"), F.asc("cell")
    )
    probes = (
        routed.withColumn("cr", F.row_number().over(wq))
        .where(F.col("cr") <= nprobe)
        .select("query_id", "__qvec", "__qn", "cell")
    )

    # ---- ADC-score only within probed cells (equi-join, prunes) -------
    joined = coded.join(F.broadcast(probes), "cell")
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    denom = F.col("__qn") * F.col("__cn")
    score = adc if adc is not None else _pq_adc_dot(cbs, "__qvec")
    cosine = F.when(denom > 0, score / denom).otherwise(F.lit(0.0))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(cosine, 6).alias("cosine"),
        "__qvec",
        "__qn",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    if rerank_factor <= 0:
        return (
            scored.drop("__qvec", "__qn")
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )
    if corpus is None:
        raise ValueError(
            "rerank_factor > 0 needs the true-vector corpus; the PQ "
            "index alone cannot re-rank exactly"
        )
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k * rerank_factor)
        .select("query_id", "neighbor_id", "__qvec", "__qn")
    )
    truth = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        norm_expr(F.col(vec_col)).alias("__cn2"),
    )
    exact = truth.join(F.broadcast(shortlist), "neighbor_id").select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_from_norms(
                F.col("__qvec"), F.col("__cvec"), F.col("__qn"), F.col("__cn2")
            ),
            6,
        ).alias("cosine"),
    )
    return exact.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def pq_codebooks_kmeans(
    corpus: DataFrame,
    *,
    m: int = 8,
    n_codewords: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 5,
    seed: int = 0,
) -> list[list[list[float]]]:
    """Learned PQ codebooks: per-subspace Lloyd's k-means (euclidean)
    over the corpus' subvectors, reusing :func:`kmeans_centroids` — the
    recall-quality path (sampled codebooks are the engine-portable
    baseline for oracle checks). ``m`` k-means runs, each on the same
    corpus scan count as IVF's centroid build."""
    row = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
    dim = int(row["d"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d0 = dim // m
    books = []
    for j in range(m):
        sub = corpus.select(
            F.col(id_col),
            F.slice(F.col(vec_col), j * d0 + 1, d0).alias(vec_col),
        )
        books.append(
            kmeans_centroids(
                sub,
                k=n_codewords,
                max_iter=max_iter,
                vec_col=vec_col,
                id_col=id_col,
                seed=seed + j,
                metric="euclidean",
            )
        )
    return books


# ---------------------------------------------------------------------------
# PCA projection: dimension reduction ahead of ANN / clustering
# ---------------------------------------------------------------------------
def covariance_stats(
    df: DataFrame, *, vec_col: str = "embedding", dim: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """(covariance d×d, mean d, n) of a vector column in ONE distributed
    pass: each partition emits its partial (Σxxᵀ, Σx, n) — d²+d+1 doubles
    — via an Arrow batch matmul, and the driver combines the partials.
    Driver transfer is O(partitions · d²), independent of row count, so
    the pass scales to any corpus (d=64 → 33 KB per partition)."""
    part_schema = T.StructType(
        [
            T.StructField("xx", T.ArrayType(T.DoubleType())),
            T.StructField("sx", T.ArrayType(T.DoubleType())),
            T.StructField("n", T.LongType()),
        ]
    )

    def partials(batches):
        xx = np.zeros((dim, dim))
        sx = np.zeros(dim)
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            xx += mat.T @ mat
            sx += mat.sum(axis=0)
            n += len(mat)
        if n:
            yield pd.DataFrame(
                {"xx": [xx.ravel().tolist()], "sx": [sx.tolist()], "n": [n]}
            )

    rows = df.select(vec_col).mapInPandas(partials, part_schema).collect()
    xx = np.zeros((dim, dim))
    sx = np.zeros(dim)
    n = 0
    for r in rows:
        xx += np.asarray(r.xx).reshape(dim, dim)
        sx += np.asarray(r.sx)
        n += r.n
    mean = sx / max(n, 1)
    cov = xx / max(n, 1) - np.outer(mean, mean)
    return cov, mean, n


def pca_components(
    df: DataFrame, *, vec_col: str = "embedding", dim: int, out_dim: int
) -> tuple[np.ndarray, np.ndarray]:
    """Top ``out_dim`` principal axes (rows) + the mean vector.

    The eigendecomposition runs on the driver over the d×d covariance —
    O(d³) with d the EMBEDDING width, never the row count. Eigenvector
    sign is fixed deterministically (largest-|component| entry made
    positive), so repeated fits produce identical projections."""
    cov, mean, _ = covariance_stats(df, vec_col=vec_col, dim=dim)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:out_dim]
    comps = vecs[:, order].T  # (out_dim, dim)
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return comps, mean


def pca_project(
    df: DataFrame,
    components: np.ndarray,
    mean: np.ndarray,
    *,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project vectors onto the fitted axes: ``(x − mean) @ componentsᵀ``
    as an Arrow batch matmul; the (out_dim × dim) matrix ships in the
    closure. Output replaces nothing — the projected column appends, so
    callers can chain int8 quantization / ANN on the reduced vectors."""
    comps = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)
    out_schema = T.StructType(
        df.schema.fields
        + [T.StructField(out_col, T.ArrayType(T.FloatType()))]
    )

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            proj = (mat - mu) @ comps.T
            pdf = pdf.copy()
            pdf[out_col] = [row.astype(np.float32) for row in proj]
            yield pdf

    return df.mapInPandas(project, out_schema)


# ------------------------------------------------------------- kNN graph
def knn_graph(
    corpus: DataFrame,
    centroids: list[list[float]],
    *,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over a corpus: for every
    vector, its top-``k`` cosine neighbors among the members of its
    ``nprobe`` closest IVF cells. Returns ``(query_id, neighbor_id,
    cosine, rank)`` — the adjacency input for SemDeDup-style semantic
    clustering, diversity sampling, and graph-based curation.

    NOT :func:`ivf_topk` re-used: there the probe side is a small query
    batch and is broadcast; here BOTH sides are the corpus, so the plan
    must be a cell-keyed equi-join instead — probes (each vector
    replicated ``nprobe``×) shuffle-join corpus members on ``cell``,
    co-partitioned, no broadcast of anything corpus-sized. Work is
    Σ_cells (members × probes-into-cell) — bounded by the cell layout,
    never n². At 100 TB grow the number of cells with n (the
    SemDeDup/IVF recipe, k_cells ≈ n/1000) to cap member counts, and
    raise nprobe for recall; skewed cells split via AQE like any other
    equi-join.

    The one broadcast is the centroid matrix (k_cells × d doubles) for
    probe routing — tiny by construction.
    """
    cmat = [[float(x) for x in c] for c in centroids]
    n_cells = len(cmat)
    cent_rows = [(i, cmat[i]) for i in range(n_cells)]
    spark = corpus.sparkSession
    from auto_data_linkage_spark.session import local_rows_df

    cents = local_rows_df(spark, cent_rows, ["cell", "centroid"]).select(
        "cell", F.col("centroid").cast("array<double>").alias("centroid")
    )

    v = corpus.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__vec"),
        norm_expr(F.col(vec_col)).alias("__n"),
    )
    routed = v.join(F.broadcast(cents)).select(
        "query_id",
        "__vec",
        "__n",
        "cell",
        F.round(cosine_expr(F.col("__vec"), F.col("centroid")), 6).alias(
            "cell_sim"
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("cell_sim"), F.asc("cell")
    )
    probes = (
        routed.withColumn("cr", F.row_number().over(wq))
        .where(F.col("cr") <= nprobe)
        .select("query_id", "__vec", "__n", "cell")
    )
    # members: every vector in its OWN (nearest) cell only
    members = (
        routed.withColumn("cr", F.row_number().over(wq))
        .where(F.col("cr") == 1)
        .select(
            F.col("query_id").alias("neighbor_id"),
            F.col("__vec").alias("__cvec"),
            F.col("__n").alias("__cn"),
            "cell",
        )
    )
    scored = (
        members.join(probes, "cell")  # equi-join, co-partitioned by cell
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_from_norms(
                    F.col("__vec"), F.col("__cvec"), F.col("__n"), F.col("__cn")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


# ------------------------------------------- embedding-space outliers
def prototypicality(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    cell_col: str = "label",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Per-row cosine to the row's OWN cell centroid — the
    "prototypicality" score from the D4 / SemDeDup line of work
    (Abbas et al. 2023; Tirumala et al. 2023 — public): points far from
    their cluster centroid are embedding-space outliers (mojibake, OCR
    noise, off-distribution boilerplate), points too close are
    semantic templates; both are curation targets.

    Output: (id, cell, proto).  Plan shape: centroids are ONE groupBy
    returning k×dim doubles (:func:`build_centroids` — map-side partial
    aggregation, never an exploded shuffle), broadcast back; the score
    is a row-local fold.  The corpus never shuffles.
    """
    cents = (
        centroids
        if centroids is not None
        else build_centroids(corpus, vec_col=vec_col, cell_col=cell_col)
    )
    return (
        corpus.select(
            F.col(id_col),
            F.col(cell_col).alias("cell"),
            F.col(vec_col).alias("__vec"),
        )
        .join(F.broadcast(cents), "cell")
        .select(
            F.col(id_col),
            "cell",
            F.round(
                cosine_expr(F.col("__vec"), F.col("centroid")), 6
            ).alias("proto"),
        )
    )


def embedding_outliers(
    corpus: DataFrame,
    *,
    quantile: float = 0.1,
    vec_col: str = "embedding",
    cell_col: str = "label",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Flag the least-prototypical ``quantile`` of every cell:
    ``(id, cell, proto, is_outlier)`` with ``is_outlier = proto below
    the cell's interpolated ``quantile`` cut (strict <, so at most a
    ``quantile`` fraction per cell is flagged and exact-threshold ties
    survive).

    The cutoff table is one narrow aggregate over (cell, proto) pairs —
    #cells rows, broadcast back — so the corpus is scanned once for
    scoring and its (cell, proto) projection once for the cuts; no
    global window, no corpus-wide sort.  Filtering ``is_outlier`` rows
    before training is the D4 outlier-removal step; the same score's
    TOP quantile feeds template removal if needed.
    """
    if not 0.0 < quantile < 1.0:
        raise ValueError(f"quantile must be in (0, 1), got {quantile}")
    p = prototypicality(
        corpus,
        vec_col=vec_col,
        cell_col=cell_col,
        id_col=id_col,
        centroids=centroids,
    )
    cuts = p.groupBy("cell").agg(
        F.round(F.percentile(F.col("proto"), quantile), 6).alias("__cut")
    )
    return p.join(F.broadcast(cuts), "cell").select(
        F.col(id_col),
        "cell",
        "proto",
        (F.col("proto") < F.col("__cut")).alias("is_outlier"),
    )
