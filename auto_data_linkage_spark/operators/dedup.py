"""Deduplication family for training-data pipelines.

Five strategies, each a pure DataFrame program designed for the 100 TB
path:

- **exact**: md5(normalized text) → groupBy hash → keep min id. One
  shuffle on a short hash key; survivors join back broadcast-free via
  semi-join.
- **MinHash + LSH**: shingle → k portable hash functions → per-band
  signature → self-join on (band, band_hash) buckets only. The self-join
  never touches pairs outside a shared bucket, so cost is Σ bucket², not
  n² — the standard near-dup recipe at web scale.
- **SimHash**: 32-bit sign-aggregated token hashes; near-dups share the
  simhash value (or a band of it). One projection + one groupBy.
- **n-gram Jaccard**: exact char/word n-gram Jaccard over LSH- or
  key-blocked candidate pairs (verification stage after MinHash, or
  standalone on small blocks).
- **embedding cosine**: cosine ≥ t pairs within coarse buckets (labels /
  IVF cells) — see :mod:`.similarity` for the ANN machinery.

Every hash is md5-derived (:func:`..operators.text.md5_hash64`) so each
strategy is DuckDB-oracle-checkable; swap in ``xxhash64`` for raw speed
when cross-engine parity is not needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from auto_data_linkage_spark.operators.text import (
    doc_fingerprint,
    md5_hash64,
    shingles,
    tokens,
)


# ----------------------------------------------------------------- exact
def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(fingerprint, n_copies, keep_id) per duplicated normalized text.
    One shuffle on the 32-char hash."""
    return (
        df.select(doc_fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_copies") > 1)
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Drop all but the min-id row of each exact-duplicate group.
    Implemented as a window-free groupBy + semi-join so the wide ``text``
    column is never shuffled — only (hash, id) pairs move.

    ``id_col`` must be UNIQUE per row: the semi-join keeps every row
    bearing the keeper id, so duplicate ids (notably
    ``ingest.with_content_id``, which ASSIGNS byte-identical documents
    the same id by construction) would keep all copies. With
    content-hash ids, exact dedup is simply
    ``df.dropDuplicates([id_col])`` — one aggregate, no fingerprint
    pass needed."""
    keep = (
        df.select(doc_fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep.select(id_col), id_col, "left_semi")


# --------------------------------------------------------------- minhash
# Universal-hash MinHash (Broder): ONE md5 per shingle gives a 31-bit
# base value x; hash i is the affine map (a_i·x + b_i) mod p with
# p = 2^31 − 1. Products stay under 2^62, so bigint arithmetic never
# overflows (Spark 4 ANSI mode and DuckDB both error on overflow).
# The a/b constants are md5-derived so both engines can reproduce them.
MH_PRIME = 2_147_483_647
MH_BASE_MASK = 0x7FFFFFFF


def mh_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for hash function i: a ∈ [1, p−1], b ∈ [0, p−1]."""
    import hashlib

    a = (
        int.from_bytes(hashlib.md5(f"mh_a|{i}".encode()).digest()[:8], "big")
        % (MH_PRIME - 1)
        + 1
    )
    b = (
        int.from_bytes(hashlib.md5(f"mh_b|{i}".encode()).digest()[:8], "big")
        % MH_PRIME
    )
    return a, b


def minhash_base_hashes(sh: Column) -> Column:
    """Per-shingle 31-bit base hash array — the single md5 pass."""
    return F.transform(
        sh, lambda s: md5_hash64(s).bitwiseAND(F.lit(MH_BASE_MASK))
    )


def _affine(i: int):
    a, b = mh_params(i)
    # closure, not default arg: F.transform inspects lambda arity, and a
    # default-arg would be misread as the array-index parameter
    return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MH_PRIME)


def minhash_from_base(base: Column, num_hashes: int = 16) -> Column:
    """Signature from a *materialized* base-hash array column: per hash i,
    min over shingles of the affine map — cheap codegen arithmetic, no
    further md5 work."""
    mins = [
        F.array_min(F.transform(base, _affine(i))) for i in range(num_hashes)
    ]
    return F.array(*mins)


def minhash_from_shingles(sh: Column, num_hashes: int = 16) -> Column:
    """Signature from an already-materialized shingle array column.

    Feed this a *column reference* (two-phase projection), not the shingle
    expression itself — otherwise the shingle subtree is re-evaluated once
    per hash seed inside the same projection. Hot paths should materialize
    :func:`minhash_base_hashes` first and call :func:`minhash_from_base`,
    which runs the md5 pass exactly once instead of once per hash."""
    return minhash_from_base(minhash_base_hashes(sh), num_hashes)


def minhash_signature(
    text: Column | str, num_hashes: int = 16, shingle_k: int = 3
) -> Column:
    """MinHash signature: for seed i, ``min over shingles of hash_i``.
    Computed entirely with array built-ins — no UDF, no explode, no
    shuffle. For hot paths prefer the two-phase form (materialize
    :func:`~auto_data_linkage_spark.operators.text.shingles` first, then
    :func:`minhash_from_shingles`)."""
    return minhash_from_shingles(shingles(text, shingle_k), num_hashes)


def minhash_bands(
    signature: Column, num_bands: int = 4, rows_per_band: int = 4
) -> Column:
    """Band the signature: array of (band_id, band_hash) structs. Docs
    sharing ANY band collide in LSH."""
    bands = []
    for b in range(num_bands):
        sl = F.slice(signature, b * rows_per_band + 1, rows_per_band)
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                md5_hash64(F.concat_ws(",", F.transform(sl, lambda x: x.cast("string")))).alias(
                    "band_hash"
                ),
            )
        )
    return F.array(*bands)


#: Default hot-bucket cap for MinHash LSH pair generation. A (band,
#: band_hash) bucket with more members than this is dropped before the
#: self-join: pair cost is Σ bucket², so one degenerate bucket of 10⁸
#: short/template docs would otherwise emit 10¹⁶ candidate pairs and
#: serialize the whole job. 1000 keeps ≤ ~5·10⁵ pairs per bucket —
#: bounded work — while being far above any genuine near-dup cluster at
#: the scales the oracles run (so cap semantics are value-checked by
#: construction: the DuckDB oracles model the identical HAVING cap).
DEFAULT_MAX_BUCKET = 1000


def banded_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
    route_short: bool = True,
) -> DataFrame:
    """(id, band, band_hash) LSH band table — the joinable (and
    persistable) state form of the MinHash index. Four-phase projection:
    shingles → base hashes → signature → bands, each referencing the
    previous phase's column once (the md5 pass runs exactly once per
    shingle, not once per hash function).

    ``route_short`` (default on) excludes documents with fewer than
    ``shingle_k`` whitespace tokens from the band table entirely. Such a
    document's shingle set is the singleton {its whole text} (the
    ``sequence(0, greatest(n-k, 0))`` floor in :func:`..text.shingles`),
    so every empty doc and every short template doc lands in the SAME
    (band, band_hash) bucket in EVERY band — at web scale one mega-bucket
    of 10⁸ short docs would emit bucket² pairs. Routing them around
    banding loses nothing: a singleton shingle set can only reach
    Jaccard ≥ t against an identical singleton, i.e. an exact duplicate,
    which :func:`exact_dedup` already catches without any self-join.
    """
    rows_per_band = num_hashes // num_bands
    if route_short:
        df = df.where(F.size(tokens(text_col)) >= shingle_k)
    sig = df.select(
        F.col(id_col), shingles(text_col, shingle_k).alias("__sh")
    ).select(
        F.col(id_col), minhash_base_hashes(F.col("__sh")).alias("__bh")
    ).select(
        F.col(id_col), minhash_from_base(F.col("__bh"), num_hashes).alias("sig")
    )
    return sig.select(
        id_col,
        F.explode(
            minhash_bands(F.col("sig"), num_bands, rows_per_band)
        ).alias("b"),
    ).select(id_col, "b.band", "b.band_hash")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    route_short: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Plan shape: project signature → explode bands → self-join on
    (band, band_hash) with id_l < id_r → distinct pair. The join key is a
    16-byte-ish bucket id, so the shuffle moves (bucket, id) pairs only;
    pair count is Σ bucket-size² over genuinely-similar buckets.

    Two scale guards (both on by default):

    - ``route_short`` keeps sub-``shingle_k``-token docs out of banding
      (see :func:`banded_table` — they form one global mega-bucket and
      can only ever be exact dups, which :func:`exact_dedup` owns);
    - ``max_bucket`` drops (band, band_hash) buckets with more members
      than the cap before the self-join — the same broadcast-anti-join
      hot-bucket drop :func:`simhash_near_pairs` uses. A dropped bucket
      trades recall on degenerate template clusters for a hard
      O(cap²)-per-bucket output bound; pass ``None`` to disable.
    """
    banded, pairs, _ = _banded_and_candidates(
        df, text_col, id_col,
        num_hashes=num_hashes, num_bands=num_bands, shingle_k=shingle_k,
        max_bucket=max_bucket, route_short=route_short,
        share_counts=False,
    )
    return pairs


def _banded_and_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int,
    num_bands: int,
    shingle_k: int,
    max_bucket: int | None,
    route_short: bool,
    share_counts: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(hot-dropped band table [checkpoint-backed], distinct candidate
    pairs, per-bucket counts) — the shared core of
    :func:`minhash_lsh_candidates` and :func:`minhash_dedup_pairs`
    (which also needs the band table and the bucket counts to bound its
    verification scan to colliding docs). With ``share_counts`` the
    counts are aggregated ONCE over the checkpointed band table and
    lazily checkpointed so the hot-bucket drop here AND the collider
    gate in the verifier read the same bucket-sized table — the two
    filters previously each ran their own full aggregate pass (two
    ~350 ms 32-task jobs at sf0.1, measured in the event log). Leave it
    off when only the hot drop consumes the counts (the candidates-only
    path): a single consumer gains nothing from the extra pinned RDD
    (tests pin that path's persistent-RDD count)."""
    banded = banded_table(
        df, text_col, id_col,
        num_hashes=num_hashes, num_bands=num_bands, shingle_k=shingle_k,
        route_short=route_short,
    )
    # both sides of the self-join read this small (id, band, hash) table.
    # Eager localCheckpoint materializes the hashing subtree exactly once
    # WITHOUT pinning a SQL CacheManager entry: a plain .persist() here
    # leaked one pinned plan per call in long-lived sessions. Its blocks
    # DO register an RDD-level persist, released only after the DataFrame
    # is GC'd and the ContextCleaner runs — so entries can accumulate
    # transiently between GCs. Trade-off vs persist(): lineage is
    # truncated, so losing an executor that held checkpoint blocks fails
    # downstream jobs instead of recomputing — acceptable for this small
    # intermediate; on a lossy cluster prefer reliable checkpointing.
    banded = banded.localCheckpoint(eager=True)
    # bucket-size aggregate over the checkpointed band table (cheap pass
    # over (id, band, hash) rows, never the text). Bucket-sized; the
    # lazy checkpoint (verification path only) pins at most one row per
    # (band, hash) so both consumers share one aggregate pass.
    bucket_counts = banded.groupBy("band", "band_hash").count()
    if share_counts:
        bucket_counts = bucket_counts.localCheckpoint(eager=False)
    if max_bucket is not None:
        # the hot set is tiny by construction (≤ n/cap buckets) so it
        # broadcasts.
        hot = bucket_counts.where(F.col("count") > max_bucket).select(
            "band", "band_hash"
        )
        banded = banded.join(
            F.broadcast(hot), ["band", "band_hash"], "left_anti"
        )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = left.join(
        right,
        (F.col("l.band") == F.col("r.band"))
        & (F.col("l.band_hash") == F.col("r.band_hash"))
        & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
    ).select(
        F.col(f"l.{id_col}").alias(f"{id_col}_l"),
        F.col(f"r.{id_col}").alias(f"{id_col}_r"),
    )
    return banded, pairs.distinct(), bucket_counts


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    jaccard_threshold: float = 0.7,
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    route_short: bool = True,
) -> DataFrame:
    """LSH candidates verified with exact shingle Jaccard ≥ threshold.
    The exact check touches only candidate pairs (the LSH output), never
    the full n² space. ``max_bucket`` / ``route_short`` are the scale
    guards of :func:`minhash_lsh_candidates`."""
    banded, cands, bucket_counts = _banded_and_candidates(
        df, text_col, id_col,
        num_hashes=num_hashes, num_bands=num_bands, shingle_k=shingle_k,
        max_bucket=max_bucket, route_short=route_short,
        share_counts=True,
    )
    # verification shingles only for docs that CAN appear in a candidate
    # pair: members of a surviving (band, hash) bucket with ≥ 2 members.
    # The old shape computed full-corpus shingles TWICE (once per join
    # side — Catalyst does not share the duplicated subtree); this
    # computes them once, for the colliding subset only — at 100 TB the
    # dedup working set, not the corpus. Checkpoint: read twice below.
    # The collider gate filters the SHARED bucket-count table (counts
    # are over pre-drop membership; dropping other buckets does not
    # change a surviving bucket's count, so `2 <= count <= cap` over
    # the pre-drop counts ≡ `count >= 2` recomputed post-drop).
    multi = bucket_counts.where(F.col("count") >= 2)
    if max_bucket is not None:
        multi = multi.where(F.col("count") <= max_bucket)
    multi = multi.select("band", "band_hash")
    cand_ids = (
        banded.join(multi, ["band", "band_hash"], "left_semi")
        .select(id_col)
        .distinct()
    )
    sh = (
        df.join(cand_ids, id_col, "left_semi")
        .select(F.col(id_col), shingles(text_col, shingle_k).alias("sh"))
        .localCheckpoint(eager=True)
    )
    joined = (
        cands.join(
            sh.withColumnRenamed(id_col, f"{id_col}_l").withColumnRenamed("sh", "sh_l"),
            f"{id_col}_l",
        )
        .join(
            sh.withColumnRenamed(id_col, f"{id_col}_r").withColumnRenamed("sh", "sh_r"),
            f"{id_col}_r",
        )
    )
    inter = F.size(F.array_intersect("sh_l", "sh_r"))
    union = F.size(F.array_union("sh_l", "sh_r"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return joined.select(
        f"{id_col}_l",
        f"{id_col}_r",
        F.round(jac, 6).alias("jaccard"),
    ).where(F.col("jaccard") >= jaccard_threshold)


# --------------------------------------------------------------- simhash
def token_hashes(text: Column | str) -> Column:
    """Portable 60-bit hashes of the distinct whitespace tokens."""
    return F.transform(
        F.array_distinct(tokens(text)), lambda t: md5_hash64(t)
    )


def simhash_from_hashes(hashed: Column, bits: int = 32) -> Column:
    """SimHash from a materialized token-hash array column: per bit, sum
    ±1 votes over tokens; positive bits pack into one integer. Feed a
    column reference — the ``bits`` folds all read the same array, so
    hashing must not be inlined here (it would run once per bit)."""

    def bit_votes(mask: int):
        # closure, not default arg: F.aggregate inspects lambda arity
        return lambda a, h: a + F.when(
            h.bitwiseAND(F.lit(mask)) != 0, 1
        ).otherwise(-1)

    acc = F.lit(0).cast("bigint")
    for b in range(bits):
        votes = F.aggregate(hashed, F.lit(0), bit_votes(1 << b))
        acc = acc + F.when(votes > 0, F.lit(1 << b).cast("bigint")).otherwise(0)
    return acc


def simhash(text: Column | str, bits: int = 32) -> Column:
    """One-shot SimHash column (convenience; hot paths should use the
    two-phase :func:`token_hashes` → :func:`simhash_from_hashes`)."""
    return simhash_from_hashes(token_hashes(text), bits)


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """(id, simhash) with the two-phase projection: tokenize+hash once,
    then the per-bit folds read the materialized array.

    (An explode + grouped bit-vote-sum variant was benchmarked and lost
    3×: the md5 token hashing — shared by both — dominates, and the
    explode adds a |tokens|-row shuffle the folds avoid.)"""
    return df.select(
        F.col(id_col), token_hashes(text_col).alias("__h")
    ).select(
        F.col(id_col), simhash_from_hashes(F.col("__h"), bits).alias("simhash")
    )


def simhash_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """Groups of documents sharing an identical simhash (hamming-0 match;
    for hamming-k use banded simhash prefixes as LSH keys)."""
    return (
        simhash_table(df, text_col, id_col, bits)
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    bits: int = 32,
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance: band the
    signature into ``n_bands`` chunks, self-join on any shared chunk,
    then verify with the exact popcount of the XOR.

    Pigeonhole guarantee: any pair within hamming < ``n_bands`` differs
    in fewer bits than there are bands, so at least one band matches —
    candidate generation is exact for ``max_hamming < n_bands``. The
    join shuffles only (band, value, id, sig) — never the text — and
    pair cost is Σ bucket², proportional to actual signature similarity.

    ``max_bucket`` drops (band, value) buckets with more members than the
    cap before the join — a degenerate band value (short/template docs)
    otherwise contributes bucket² pairs on its own; dropped buckets trade
    recall for a hard output bound, like the blocking-side per-block caps.

    Output: (doc_id_l, doc_id_r, hamming), each unordered pair once.
    """
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_bands > max_hamming "
            f"(got {n_bands}) for exact candidate generation"
        )
    band_bits = bits // n_bands
    sig = simhash_table(df, text_col, id_col, bits)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
                .alias("val"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sig.select(
        id_col, "simhash", F.explode(bands).alias("b")
    ).select(id_col, "simhash", "b.band", "b.val")
    if max_bucket is not None:
        hot = (
            banded.groupBy("band", "val")
            .count()
            .where(F.col("count") > max_bucket)
            .select("band", "val")
        )
        banded = banded.join(
            F.broadcast(hot), ["band", "val"], "left_anti"
        )
    left = banded.select(
        F.col(id_col).alias("id_l"), F.col("simhash").alias("sig_l"),
        "band", "val",
    )
    right = banded.select(
        F.col(id_col).alias("id_r"), F.col("simhash").alias("sig_r"),
        "band", "val",
    )
    return (
        left.join(right, ["band", "val"])
        .where(F.col("id_l") < F.col("id_r"))
        .dropDuplicates(["id_l", "id_r"])
        .select(
            F.col("id_l").alias(f"{id_col}_l"),
            F.col("id_r").alias(f"{id_col}_r"),
            F.bit_count(
                F.col("sig_l").bitwiseXOR(F.col("sig_r"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------- n-gram jaccard (blocked)
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    *,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-shingle Jaccard over pairs blocked on ``block_cols``
    (lang/source/length-bucket). Standalone small-block dedup; for
    unblocked scale use MinHash LSH first."""
    base = df.select(
        F.col(id_col), *block_cols, shingles(text_col, shingle_k).alias("sh")
    )
    left = base.alias("l")
    right = base.alias("r")
    cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    for c in block_cols:
        cond = (F.col(f"l.{c}") == F.col(f"r.{c}")) & cond
    inter = F.size(F.array_intersect(F.col("l.sh"), F.col("r.sh")))
    union = F.size(F.array_union(F.col("l.sh"), F.col("r.sh")))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        left.join(right, cond)
        .select(
            F.col(f"l.{id_col}").alias(f"{id_col}_l"),
            F.col(f"r.{id_col}").alias(f"{id_col}_r"),
            F.round(jac, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------ embedding cosine
def embedding_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_col: str | None = "label",
    *,
    threshold: float = 0.95,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold, blocked by a
    coarse bucket (cluster label / IVF cell) so the self-join is per-bucket
    instead of n². Dot products run as codegen'd array folds in double."""
    from auto_data_linkage_spark.operators.similarity import (
        cosine_from_norms,
        norm_expr,
    )

    cols = [F.col(id_col), F.col(vec_col), norm_expr(F.col(vec_col)).alias("__n")]
    if bucket_col:
        cols.append(F.col(bucket_col))
    base = df.select(*cols)
    left = base.alias("l")
    right = base.alias("r")
    cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    if bucket_col:
        cond = (F.col(f"l.{bucket_col}") == F.col(f"r.{bucket_col}")) & cond
    cos = cosine_from_norms(
        F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}"),
        F.col("l.__n"), F.col("r.__n"),
    )
    return (
        left.join(right, cond)
        .select(
            F.col(f"l.{id_col}").alias(f"{id_col}_l"),
            F.col(f"r.{id_col}").alias(f"{id_col}_r"),
            F.round(cos, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# ------------------------------------------------- chunk-level exact dedup
def chunk_dedup(
    df: DataFrame,
    *,
    chunk_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring deduplication at fixed-width chunk granularity
    (the declarative analog of suffix-array exact-substring dedup, e.g.
    Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    Better"): split every document into consecutive ``chunk_words``-word
    segments, keep the globally FIRST occurrence of each distinct
    segment (ordered by ``(id, position)``), and reassemble each
    document from its surviving segments in original order.

    Returns ``(id, n_chunks, n_kept, dedup_text)`` for every input
    document — ``dedup_text`` is ``''`` when every chunk of the document
    appeared earlier elsewhere.

    Plan shape (scale notes):

    - chunking is a pure projection (``sequence``/``slice`` — stays in
      whole-stage codegen, no UDF);
    - the keep-decision is ONE window over ``partitionBy(chunk)`` — a
      single hash exchange keyed by segment text. At 100 TB you would
      key the exchange by ``md5_hash64(chunk)`` and resolve the (rare)
      60-bit collisions in-partition; text must travel anyway for
      reassembly, so hashing the key only narrows the sort key;
    - reassembly is one more hash aggregate on the id. Two exchanges
      total, both with map-side partials, nothing on the driver.
    """
    c = F.col(text_col)
    toks = tokens(c)
    # an empty document still yields one (empty) chunk — Spark's
    # sequence(0, -1) would DESCEND, so the floor of 1 is load-bearing
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(float(chunk_words))).cast("int"), F.lit(1)
    )
    chunk_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * chunk_words + 1, chunk_words), " "
        ),
    )
    chunked = df.select(
        F.col(id_col), F.posexplode(chunk_arr).alias("pos", "chunk")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("chunk").orderBy(F.asc(id_col), F.asc("pos"))
    kept = (
        chunked.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    agg = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("dedup_text"),
    )
    base = df.select(F.col(id_col), n_chunks.alias("n_chunks"))
    return base.join(agg, id_col, "left").select(
        F.col(id_col),
        F.col("n_chunks"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
    )


def span_dedup(
    df: DataFrame,
    *,
    min_span_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_key: bool = False,
) -> DataFrame:
    """OFFSET-ROBUST exact substring deduplication — the recall
    completion of :func:`chunk_dedup` (whose fixed-width aligned chunks
    miss a duplicated span that starts at a different word offset in
    each document; the suffix-array method of Lee et al. 2022 catches
    those, and so does this). Every word position starts a sliding
    ``min_span_words``-gram, so a repeated run of ≥ ``min_span_words``
    words is detected at ANY alignment: the globally FIRST occurrence
    of each distinct gram (ordered by ``(id, position)``) is kept; every
    later occurrence marks its ``min_span_words``-token span as
    duplicated, and a token is removed iff some duplicated span covers
    it. Returns ``(id, n_tokens, n_removed, dedup_text)`` per document
    (documents shorter than ``min_span_words`` words are kept whole —
    no gram, no span, matching Lee'22's minimum-match-length floor).

    Plan shape (scale notes):

    - gram construction is a pure ``sequence``/``slice`` projection
      (whole-stage codegen, no UDF) — k× more exchange rows than the
      aligned chunking, the price of offset robustness;
    - the keep-decision is SKEW-SAFE BY CONSTRUCTION: NOT a
      ``row_number`` window over ``partitionBy(gram)`` — an
      unbounded-rank filter (``rn > 1``) gets no ``WindowGroupLimit``,
      so a boilerplate 8-gram repeated 10⁷–10⁹× in a web corpus would
      sort on a single task. Instead the global first occurrence per
      gram is ``groupBy(gram).agg(min(struct(id, pos)))`` — partial
      (map-side) aggregation bounds any hot gram to one row per map
      task before the exchange — and each occurrence joins back on the
      gram to test ``(id, pos) != keeper``. The join fan-out on a hot
      gram is AQE-skew-splittable (a window sort is not);
    - at 100 TB pass ``hash_key=True``: both the aggregate and the
      join then carry ``(md5_hash64(gram), id, pos)`` — 8-byte keys
      instead of k-word strings, shrinking the shuffle ~10× for k=8.
      A 60-bit hash collision mis-marks a span with probability
      ≈ n²/2⁶¹ (the standard fingerprint-dedup trade, cf. Lee'22's
      64-bit variant); property-tested equivalent to the text-keyed
      path on real corpora, and the text-keyed path remains the exact
      mode;
    - duplicated starts aggregate per doc (bounded by doc length), and
      the cover test is an ``exists`` over that array in one final
      projection — no per-token join, no driver work.
    """
    k = int(min_span_words)
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__tk"))
    n = F.size("__tk")
    grams = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.array_join(F.slice("__tk", i + 1, k), " "),
    )
    if hash_key:
        grams = F.transform(grams, lambda g: md5_hash64(g))
    # the exploded gram table feeds BOTH the keeper aggregate and the
    # join probe below, so its projection is deliberately computed
    # twice. An eager localCheckpoint here (the LSH banding pattern)
    # was measured SLOWER — 0.71 vs 0.51 s min over 8 warm sf0.1 runs —
    # because the materialized table is ~k× the corpus text (one k-word
    # string gram per token position), so writing + twice reading it
    # exceeds re-running a whole-stage-codegen projection over the
    # columnar scan; at 100 TB it would additionally pin k× corpus
    # bytes in executor block storage. Recompute wins on both axes.
    sh = base.where(n >= k).select(
        F.col(id_col), F.posexplode(grams).alias("pos", "gram")
    )
    # Global first occurrence per gram via min(struct) — struct ordering
    # is field-by-field, identical to ORDER BY (id, pos) — then join
    # back and mark every non-keeper occurrence as a duplicated start.
    keeper = sh.groupBy("gram").agg(
        F.min(
            F.struct(F.col(id_col).alias("kid"), F.col("pos").alias("kpos"))
        ).alias("__keep")
    )
    dup_starts = (
        sh.join(keeper, "gram")
        .where(
            (F.col(id_col) != F.col("__keep.kid"))
            | (F.col("pos") != F.col("__keep.kpos"))
        )
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("__dups"))
    )
    joined = base.join(dup_starts, id_col, "left")
    dups = F.coalesce(F.col("__dups"), F.array().cast("array<int>"))
    positions = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    kept_pos = F.filter(
        positions,
        lambda p: ~F.exists(dups, lambda s: (s <= p) & (p < s + k)),
    )
    return joined.select(
        F.col(id_col),
        n.cast("int").alias("n_tokens"),
        (n - F.size(kept_pos)).cast("int").alias("n_removed"),
        F.array_join(
            F.transform(kept_pos, lambda p: F.get("__tk", p)), " "
        ).alias("dedup_text"),
    )


def line_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 4,
    unit: str = "line",
) -> DataFrame:
    """Exact LINE-level deduplication (the RefinedWeb/CCNet rule that
    precedes fuzzy dedup in published curation recipes): the globally
    FIRST occurrence of each normalized line — by ``(id, position)`` —
    survives; every later copy, within or across documents, is removed;
    documents reassemble from surviving lines in order. Lines shorter
    than ``min_chars`` characters are kept unconditionally (bullets,
    separators — structure, not content, and deduping them would gut
    formatting). Blank lines are dropped.

    Complements the segment operators: :func:`chunk_dedup` /
    :func:`span_dedup` work on word windows irrespective of layout;
    this works on the document's NATURAL units, catching repeated
    boilerplate lines ("subscribe to our newsletter") that word
    windows straddle.

    Skew-safe plan: short lines are routed AROUND the window by a
    pre-window filter (they truly never shuffle as keys — bullets and
    separators are exactly the hottest keys) and unioned back; the
    remaining window keeps only ``rn == 1``, a bounded-rank filter
    Spark rewrites with ``WindowGroupLimit`` (each map task emits at
    most one candidate per hot line before the exchange — the same
    green pattern as :func:`chunk_dedup`, plan-tested). One window
    keyed by the normalized line, one reassembly aggregate on the id.
    Returns ``(id, n_lines, n_kept, dedup_text)``.

    ``unit="paragraph"`` dedups blank-line-separated BLOCKS instead
    (the other granularity RefinedWeb removes at): split on blank
    lines, reassemble with blank lines; raise ``min_chars`` when
    calling — a 4-char floor exempts almost nothing at block size.
    """
    if unit not in ("line", "paragraph"):
        raise ValueError(f"unit must be 'line' or 'paragraph', got {unit!r}")
    split_re, joiner = ("\n", "\n") if unit == "line" else (
        r"\n\s*\n", "\n\n"
    )
    c = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(c, split_re), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    exploded = df.select(
        F.col(id_col), F.posexplode(lines).alias("pos", "line")
    ).withColumn("__key", F.lower(F.col("line")))
    from pyspark.sql import Window

    short = exploded.where(F.length("__key") < min_chars).select(
        F.col(id_col), "pos", "line"
    )
    w = Window.partitionBy("__key").orderBy(F.asc(id_col), F.asc("pos"))
    kept = (
        exploded.where(F.length("__key") >= min_chars)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(F.col(id_col), "pos", "line")
        .unionByName(short)
    )
    agg = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            joiner,
        ).alias("dedup_text"),
    )
    base = df.select(F.col(id_col), F.size(lines).alias("n_lines"))
    return base.join(agg, id_col, "left").select(
        F.col(id_col),
        F.col("n_lines").cast("int").alias("n_lines"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("int").alias("n_kept"),
        F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
    )


# ----------------------------------------------- benchmark decontamination
def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    shingle_k: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag every training document that
    shares at least one word ``shingle_k``-gram with the benchmark /
    holdout set (the n-gram-overlap rule used by GPT-3 / PaLM / Llama
    data cards; 7–13 grams are the published range).

    Returns ``(id, n_shared, keep)`` over ``docs`` — ``n_shared`` is the
    count of distinct contaminated shingles, ``keep = n_shared == 0``.

    Scale shape: the benchmark side (test sets) is tiny relative to the
    corpus, so its distinct-shingle set is collected into a broadcast
    hash relation — the corpus side is scanned ONCE, never shuffled, and
    the join is map-side. This is the one dedup-family operator with a
    strictly shuffle-free corpus path.
    """
    bench_sh = (
        benchmark.select(
            F.explode(shingles(F.col(text_col), shingle_k)).alias("sh")
        )
        .distinct()
    )
    doc_sh = docs.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), shingle_k)).alias("sh")
    )
    shared = (
        doc_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy(id_col)
        .agg(F.count_distinct("sh").alias("n_shared"))
    )
    return docs.select(F.col(id_col)).join(shared, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint").alias("n_shared"),
        (F.coalesce(F.col("n_shared"), F.lit(0)) == 0).alias("keep"),
    )


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    shingle_k: int = 7,
    m_bits: int = 1 << 20,
    n_hashes: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`decontaminate` with the benchmark side compressed into a
    Bloom filter — the 100 TB variant for LARGE holdout sets.

    The exact operator broadcasts the benchmark's distinct-shingle set
    as a hash relation: fine for test suites, but a 10⁸-gram holdout is
    a multi-GB broadcast shipped to every task. Here the grams fold into
    an ``m_bits``-bit filter (128 KB at the default 2²⁰) that rides into
    the corpus projection as ONE array literal — the corpus path has
    ZERO joins and one shuffle (the per-doc count aggregate), identical
    plan shape at any benchmark size.

    Returns ``(id, n_flagged, keep)``; ``n_flagged`` counts the doc's
    distinct shingles the filter flags — a deterministic SUPERSET of the
    true overlap count: never false negatives, so ``keep`` errs in the
    safe direction for decontamination. Per-gram false-positive rate is
    the standard (1 − e^{−kn/m})^k (n = benchmark's distinct grams):
    ~2·10⁻⁶ at n = 10⁴ with the defaults, ~1% at n = 10⁵ — size
    ``m_bits`` ≈ 32× n for ~2·10⁻⁴. Note the PER-DOCUMENT keep flip
    probability is ≈ grams-per-doc × per-gram rate, so pick m for the
    corpus's tolerable over-drop, not just the per-gram rate. The
    md5-derived bit arithmetic replays bit-identically on DuckDB, false
    positives included, so the operator stays oracle-checkable.
    """
    from auto_data_linkage_spark.operators.sketch import (
        bloom_build,
        bloom_contains,
    )

    bench_sh = benchmark.select(
        F.explode(shingles(F.col(text_col), shingle_k)).alias("sh")
    ).distinct()
    words = bloom_build(
        bench_sh, "sh", m_bits=m_bits, n_hashes=n_hashes
    )
    # shingles() is array_distinct, so each exploded gram is distinct
    # within its doc — summing hit booleans counts distinct flagged grams
    doc_sh = docs.select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), shingle_k)).alias("sh"),
    )
    flagged = (
        doc_sh.select(
            F.col(id_col),
            bloom_contains(
                F.col("sh"), words, m_bits=m_bits, n_hashes=n_hashes
            )
            .cast("int")
            .alias("hit"),
        )
        .groupBy(id_col)
        .agg(F.sum("hit").alias("n_flagged"))
    )
    return docs.select(F.col(id_col)).join(flagged, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_flagged"), F.lit(0)).cast("bigint").alias("n_flagged"),
        (F.coalesce(F.col("n_flagged"), F.lit(0)) == 0).alias("keep"),
    )


def decontaminate_attribution(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    shingle_k: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str | None = None,
) -> DataFrame:
    """WHICH benchmark document contaminated each training document —
    the audit trail behind :func:`decontaminate`'s boolean.

    A data card that says "N docs dropped for benchmark overlap" needs
    the attribution to be reviewable: was the leak GSM8K or a Wikipedia
    paragraph both sets quote? Returns one row per contaminated
    ``(doc_id, bench_id)`` pair with ``n_shared`` = the count of
    distinct word ``shingle_k``-grams the pair shares; clean documents
    produce no rows (filter the boolean operator for the keep set).

    Scale shape: the benchmark side keeps its ids (unlike
    :func:`decontaminate`, which collapses to a gram set) but is still
    the tiny side — its exploded ``(bench_id, gram)`` pairs broadcast,
    the corpus is scanned once and never shuffled on the probe, and the
    only exchange aggregates the *contaminated* join output, which is
    bounded by true-overlap volume, not corpus size.
    """
    bid = bench_id_col or id_col
    bench_sh = benchmark.select(
        F.col(bid).alias("bench_id"),
        F.explode(shingles(F.col(text_col), shingle_k)).alias("sh"),
    )
    doc_sh = docs.select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), shingle_k)).alias("sh"),
    )
    # shingles() is array_distinct per doc, so (id, sh) and (bench_id,
    # sh) are already distinct — count(*) per pair counts distinct
    # shared grams without a count_distinct shuffle.
    return (
        doc_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy(id_col, "bench_id")
        .agg(F.count("*").alias("n_shared"))
    )


def keep_best_in_cluster(
    docs: DataFrame,
    components: DataFrame,
    score_col: str,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware survivor selection over near-dup clusters: keep the
    HIGHEST-``score_col`` member of each connected component (ties break
    on min id) instead of the min-id member — the RefinedWeb/FineWeb-
    style refinement where, given a cluster of near-identical pages, you
    keep the longest / highest-quality copy, not an arbitrary one.

    ``components`` is :func:`~auto_data_linkage_spark.cluster.
    connected_components` output ``(node, component)`` over the verified
    near-dup pairs; documents absent from it are singletons and pass
    through untouched. Returns the surviving ``docs`` rows (all
    columns).

    Scale shape: the arbitration window runs ONLY over in-component
    docs — a relation bounded by duplicate volume, not corpus size (the
    corpus-sized side is one anti-join against the component node list,
    broadcast when the dup set is small, AQE-planned otherwise). The
    ``rn = 1`` filter is WindowGroupLimit-eligible, so a hot component
    ships one candidate row per map task.
    """
    from pyspark.sql import Window

    comp = components.select(
        F.col("node").alias(id_col), F.col("component")
    )
    member = docs.join(comp, id_col)
    w = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    winners = (
        member.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "component")
    )
    singles = docs.join(comp.select(id_col), id_col, "left_anti")
    return singles.unionByName(winners)


# ------------------------------------------------------- semantic dedup
def semantic_dedup(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "label",
    threshold: float = 0.95,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): within
    each coarse cluster cell, link items whose embedding cosine ≥
    ``threshold``, take connected components over those links, and keep
    the minimum-id member of every component.

    Returns the surviving ``(id)`` rows (one per kept item).

    Scale shape: candidate pairs come from :func:`embedding_dup_pairs` —
    a per-cell self-join (Σ cell², never n²; cells come from k-means /
    IVF assignment, see similarity.assign_cells). The component step
    reuses the engine's adaptive connected-components (driver union-find
    under the bounded probe, Spark iteration above it), and the survivor
    filter is a join on the component map — the same composition as the
    MinHash ``near_dedup_keep`` pipeline, swapped onto embedding space.
    ``pairs`` takes that stage precomputed (like ``centroids=`` on the
    vector searches), e.g. over a repartitioned read of ``df``.
    """
    from auto_data_linkage_spark.cluster import connected_components

    if pairs is None:
        pairs = embedding_dup_pairs(
            df, vec_col=vec_col, id_col=id_col, bucket_col=cell_col,
            threshold=threshold,
        )
    edges = pairs.select(
        F.col(f"{id_col}_l").alias("src"), F.col(f"{id_col}_r").alias("dst")
    )
    comp = connected_components(edges)
    return (
        df.select(F.col(id_col).alias("node"))
        .join(comp, "node", "left")
        .where(F.coalesce(F.col("component"), F.col("node")) == F.col("node"))
        .select(F.col("node").alias(id_col))
    )


# ------------------------------------------- incremental corpus dedup
def incremental_near_dedup(
    existing: DataFrame,
    new: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dedup survivors of an ARRIVING batch against an immutable,
    already-deduplicated corpus — the daily-increment form of
    ``near_dedup_keep`` (a 100 TB pipeline re-deduplicates the delta,
    never the corpus).

    Semantics ("existing wins"): a new document is dropped iff its
    within-batch LSH component (band-collision edges, the same edge
    definition as ``near_dedup_keep``) contains ANY member that
    band-collides with an existing document, or it is not the minimum-id
    member of its component. Existing documents are never re-judged.

    Returns the surviving ``(id)`` rows of ``new``.

    Scale shape: all work is delta-sized —

    - the batch's band table self-joins only within the batch;
    - the batch-vs-corpus check is an equi-join on (band, band_hash)
      against the corpus band table. Here the corpus side is derived
      from ``existing`` on the fly; in production persist
      :func:`banded_table`'s output once (it IS the index state — (id,
      band, hash) rows, no text) and hand it in via ``existing`` being
      that table (pass ``existing_banded=True`` semantics by
      pre-computing; the join shape is identical);
    - connected components run over within-batch edges only (delta²
      bounded by LSH buckets, same Σ bucket² law as the batch operator).
    """
    from auto_data_linkage_spark.cluster import connected_components

    kw = dict(num_hashes=num_hashes, num_bands=num_bands, shingle_k=shingle_k)
    bn = banded_table(new, text_col, id_col, **kw).localCheckpoint(eager=True)
    if max_bucket is not None:
        # same hot-bucket drop as minhash_lsh_candidates, applied to the
        # batch side (the only side that self-joins); short docs are
        # already routed out by banded_table and survive unconditionally
        # (they only ever reach `assign` below, built from `new` itself).
        hot = (
            bn.groupBy("band", "band_hash")
            .count()
            .where(F.col("count") > max_bucket)
            .select("band", "band_hash")
        )
        bn = bn.join(F.broadcast(hot), ["band", "band_hash"], "left_anti")
    bo = banded_table(existing, text_col, id_col, **kw).select(
        "band", "band_hash"
    )
    hits = (
        bn.join(bo, ["band", "band_hash"], "semi")
        .select(F.col(id_col).alias("__hit_id"))
        .distinct()
    )
    left, right = bn.alias("l"), bn.alias("r")
    edges = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("src"),
            F.col(f"r.{id_col}").alias("dst"),
        )
        .distinct()
    )
    comp = connected_components(edges)
    assign = (
        new.select(F.col(id_col).alias("node"))
        .join(comp, "node", "left")
        .select(
            F.col("node"),
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )
    dropped = (
        assign.join(hits, assign["node"] == hits["__hit_id"], "semi")
        .select("component")
        .distinct()
    )
    return (
        assign.where(F.col("node") == F.col("component"))
        .join(dropped, "component", "anti")
        .select(F.col("node").alias(id_col))
    )


# ------------------------------------------------- boilerplate stripping
def _chunk_array(text_col: Column, chunk_words: int) -> Column:
    """Consecutive ``chunk_words``-token segments of a document as an
    array<string> — the same pure projection :func:`chunk_dedup` uses
    (sequence/slice, whole-stage codegen, no UDF)."""
    toks = tokens(text_col)
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(float(chunk_words))).cast("int"), F.lit(1)
    )
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * chunk_words + 1, chunk_words), " "),
    )


def boilerplate_chunks(
    df: DataFrame,
    *,
    chunk_words: int = 8,
    min_doc_frac: float = 0.05,
    max_terms: int = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chunks whose DOCUMENT frequency exceeds ``min_doc_frac`` of the
    corpus — the CCNet/RefinedWeb boilerplate signal (headers, cookie
    banners, navigation): content repeated across many documents, found
    by frequency, not by first-occurrence order (contrast
    :func:`chunk_dedup`). Returns ``(chunk, doc_freq)``, heaviest
    first, capped at ``max_terms``.

    One distinct + hash-agg pass over (id, chunk) pairs — map-side
    partials; document text never shuffles, only chunk strings."""
    n_docs = df.count()
    floor = max(2, int(n_docs * min_doc_frac))
    chunks = df.select(
        F.col(id_col), F.explode(_chunk_array(F.col(text_col), chunk_words)).alias("chunk")
    ).dropDuplicates([id_col, "chunk"])
    return (
        chunks.groupBy("chunk")
        .agg(F.count("*").alias("doc_freq"))
        .where(F.col("doc_freq") >= floor)
        .orderBy(F.desc("doc_freq"), F.asc("chunk"))
        .limit(max_terms)
    )


_BOILER_LITERAL_MAX = 512


def strip_boilerplate(
    df: DataFrame,
    *,
    chunk_words: int = 8,
    min_doc_frac: float = 0.05,
    max_terms: int = 10_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove boilerplate chunks from every document, preserving the
    order of what survives. Returns ``(id, n_chunks, n_removed,
    clean_text)``.

    Plan shape: the boilerplate set is BOUNDED (≤ max_terms) by
    construction, so removal never shuffles the corpus —

    - ≤ 512 terms: the set folds into the plan as an array literal
      and removal is a pure ``filter``/``array_join`` projection
      (zero exchanges on the corpus);
    - larger sets: explode + broadcast LEFT-ANTI join on the chunk,
      then one hash-agg reassembly keyed by id — the single exchange
      carries surviving chunk strings, never raw documents.
    """
    bl_rows = boilerplate_chunks(
        df,
        chunk_words=chunk_words,
        min_doc_frac=min_doc_frac,
        max_terms=max_terms,
        text_col=text_col,
        id_col=id_col,
    ).collect()
    bl = [r.chunk for r in bl_rows]
    chunk_arr = _chunk_array(F.col(text_col), chunk_words)

    if len(bl) <= _BOILER_LITERAL_MAX:
        kept = F.filter(chunk_arr, lambda c: ~c.isin(*bl) if bl else F.lit(True))
        return df.select(
            F.col(id_col),
            F.size(chunk_arr).alias("n_chunks"),
            (F.size(chunk_arr) - F.size(kept)).alias("n_removed"),
            F.array_join(kept, " ").alias("clean_text"),
        )

    spark = df.sparkSession
    from auto_data_linkage_spark.session import local_rows_df

    bl_df = local_rows_df(spark, [(c,) for c in bl], ["chunk"])
    exploded = df.select(
        F.col(id_col), F.posexplode(chunk_arr).alias("pos", "chunk")
    )
    survived = exploded.join(F.broadcast(bl_df), "chunk", "left_anti")
    agg = survived.groupBy(id_col).agg(
        F.count("*").alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    base = df.select(F.col(id_col), F.size(chunk_arr).alias("n_chunks"))
    return base.join(agg, id_col, "left").select(
        F.col(id_col),
        "n_chunks",
        (F.col("n_chunks") - F.coalesce(F.col("__n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def strip_boilerplate_grouped(
    df: DataFrame,
    group_col: str,
    *,
    chunk_words: int = 8,
    min_doc_frac: float = 0.3,
    min_docs: int = 3,
    max_terms_per_group: int = 1_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    unit: str = "chunk",
) -> DataFrame:
    """Per-GROUP boilerplate removal — navigation bars, cookie banners,
    and footers repeat within a SITE, not across the whole corpus, so
    detecting them per domain/source catches boilerplate a corpus-wide
    frequency floor (:func:`strip_boilerplate`) dilutes below
    threshold. Returns ``(id, group, n_chunks, n_removed, clean_text)``.

    ``unit`` picks the segmentation:

    - ``"chunk"`` (default): fixed ``chunk_words``-token windows of the
      lowercased token stream — the highest-recall detector, but
      ``clean_text`` is rebuilt from those tokens, so it is LOWERCASED
      and newline-FLATTENED. Right for computing removal statistics or
      feeding dedup keys; wrong for replacing training text.
    - ``"line"``: segments are the document's ORIGINAL LINES; matching
      uses a normalized key (lowercased, whitespace-collapsed, trimmed)
      so indentation/case variants of the same nav bar unify, but
      ``clean_text`` reassembles the surviving ORIGINAL lines with
      ``"\\n"`` — case and paragraph structure preserved, which is what
      a pipeline that REPLACES the corpus text must use (boilerplate is
      line-shaped in practice: headers, cookie banners, footers).
      Blank lines are structure, not boilerplate — excluded from
      detection, always kept. ``chunk_words`` is ignored.

    A segment is boilerplate for its group when it appears in
    ``>= max(min_docs, min_doc_frac × group_doc_count)`` of the group's
    documents; the per-group set is capped at ``max_terms_per_group``
    by frequency (rank window — WindowGroupLimit bounds hot groups
    map-side). Unlike the corpus-wide variant, the per-group set is
    group_count × cap rows — NOT driver-collectable at web scale — so
    removal is a (group, key)-keyed LEFT-ANTI join (AQE picks
    broadcast when the set is small, sort-merge when it is not),
    followed by the same ordered hash-agg reassembly keyed by id. The
    single corpus-sized exchange carries surviving segment strings.
    """
    from pyspark.sql import Window

    if unit not in ("chunk", "line"):
        raise ValueError(f"unit must be 'chunk' or 'line', got {unit!r}")
    g = F.col(group_col).alias("__grp")
    if unit == "line":
        chunk_arr = F.split(F.col(text_col), "\n")
        sep = "\n"
        exploded = df.select(
            F.col(id_col), g, F.posexplode(chunk_arr).alias("pos", "chunk")
        ).withColumn(
            "__key",
            F.trim(F.regexp_replace(F.lower(F.col("chunk")), r"\s+", " ")),
        )
    else:
        chunk_arr = _chunk_array(F.col(text_col), chunk_words)
        sep = " "
        exploded = df.select(
            F.col(id_col), g, F.posexplode(chunk_arr).alias("pos", "chunk")
        ).withColumn("__key", F.col("chunk"))

    group_docs = df.groupBy(g).agg(
        F.count_distinct(F.col(id_col)).alias("__gdocs")
    )
    detect_src = (
        exploded.where(F.col("__key") != "") if unit == "line" else exploded
    )
    per_chunk = (
        detect_src.dropDuplicates([id_col, "__grp", "__key"])
        .groupBy("__grp", "__key")
        .agg(F.count("*").alias("doc_freq"))
        .join(F.broadcast(group_docs), "__grp")
        .where(
            F.col("doc_freq")
            >= F.greatest(
                F.lit(min_docs),
                F.ceil(F.col("__gdocs") * min_doc_frac).cast("bigint"),
            )
        )
    )
    w = Window.partitionBy("__grp").orderBy(
        F.desc("doc_freq"), F.asc("__key")
    )
    bl = (
        per_chunk.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= max_terms_per_group)
        .select("__grp", "__key")
    )

    # `exploded` feeds BOTH the detection aggregate and the removal
    # anti-join; the chunk projection is deliberately computed twice —
    # the span_dedup A/B (SCALE.md r9: 0.51 s recompute vs 0.71 s
    # localCheckpoint at sf0.1) showed materializing a ~corpus-sized
    # chunk table costs more than re-running the codegen projection,
    # and at 100 TB it would pin corpus-scale bytes in block storage.
    survived = exploded.join(bl, ["__grp", "__key"], "left_anti")
    agg = survived.groupBy(id_col).agg(
        F.count("*").alias("__n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            sep,
        ).alias("clean_text"),
    )
    base = df.select(
        F.col(id_col),
        F.col(group_col).alias("group"),
        F.size(chunk_arr).alias("n_chunks"),
    )
    return base.join(agg, id_col, "left").select(
        F.col(id_col),
        "group",
        "n_chunks",
        (F.col("n_chunks") - F.coalesce(F.col("__n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


# -------------------------------------------- semantic decontamination
def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic
    complement of :func:`decontaminate` (which catches verbatim n-gram
    overlap; paraphrased test questions need this one). Flags every
    corpus vector whose cosine to ANY benchmark vector reaches
    ``threshold``. Returns ``(id, max_bench_cosine, keep)``.

    Scale shape mirrors the n-gram variant: benchmark embeddings are
    tiny relative to the corpus, so they BROADCAST and the corpus is
    scanned once, never shuffled — one projection computing a max over
    the broadcast side per corpus row (the aggregate is map-side; no
    per-pair materialization survives the plan)."""
    from auto_data_linkage_spark.operators.similarity import (
        cosine_from_norms,
        norm_expr,
    )

    b = benchmark.select(
        F.col(vec_col).alias("__bvec"),
        norm_expr(F.col(vec_col)).alias("__bn"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__cvec"),
        norm_expr(F.col(vec_col)).alias("__cn"),
    )
    if b.isEmpty():
        # the inner join below would drop EVERY corpus row — an
        # accidentally-empty benchmark must read as "nothing flagged",
        # not as a fully-flagged (empty) result
        return c.select(
            F.col(id_col),
            F.lit(0.0).alias("max_bench_cosine"),
            F.lit(True).alias("keep"),
        )
    scored = c.join(F.broadcast(b)).groupBy(id_col).agg(
        F.round(
            F.max(
                cosine_from_norms(
                    F.col("__cvec"), F.col("__bvec"), F.col("__cn"), F.col("__bn")
                )
            ),
            6,
        ).alias("max_bench_cosine")
    )
    return scored.select(
        F.col(id_col),
        "max_bench_cosine",
        (F.col("max_bench_cosine") < threshold).alias("keep"),
    )


def dedup_recall_probe(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_rate: float = 0.05,
    drop_every: int = 8,
    seed: int = 0,
    **dedup_kwargs,
) -> DataFrame:
    """Measure the near-dedup pipeline's RECALL on planted duplicates —
    the quality-control loop for tuning ``num_hashes`` / ``num_bands``
    / ``jaccard_threshold`` before trusting them on 100 TB: without a
    ground truth, a mis-tuned LSH silently under-deduplicates and the
    only symptom is a worse model months later.

    Mechanics: a deterministic ``probe_rate`` hash-slice of documents
    gets a perturbed twin (every ``drop_every``-th token removed — a
    controlled similarity reduction; smaller ``drop_every`` = harder
    probe) under the negated id (``-id - 1``, disjoint from any
    non-negative id space); the union runs
    :func:`minhash_dedup_pairs` (``dedup_kwargs`` forwarded), and the
    result is ONE row: ``(n_planted, n_recovered, recall)`` counting
    planted (original, twin) pairs the pipeline recovered.

    Plan: the probe side is a ``probe_rate`` fraction of the corpus
    (row-local perturbation), the measurement join is
    planted-pair-sized, and the dedup pass itself is the production
    plan under test — the probe costs ~one dedup run at
    ``(1 + probe_rate)`` corpus size.
    """
    if not 0.0 < probe_rate <= 1.0:
        raise ValueError(f"probe_rate must be in (0, 1], got {probe_rate}")
    if drop_every < 2:
        raise ValueError(f"drop_every must be >= 2, got {drop_every}")
    from auto_data_linkage_spark.operators.text import md5_hash64, tokens

    cut = int(probe_rate * (1 << 60))
    sampled = df.where(
        md5_hash64(F.col(id_col).cast("string"), seed=seed) < F.lit(cut)
    )
    perturbed_tokens = F.filter(
        tokens(F.col(text_col)),
        lambda _t, i: (i + 1) % drop_every != 0,
    )
    twins = sampled.select(
        (-F.col(id_col) - 1).alias(id_col),
        F.array_join(perturbed_tokens, " ").alias(text_col),
    )
    planted = sampled.select(
        F.col(id_col).alias("__orig"),
        (-F.col(id_col) - 1).alias("__twin"),
    )
    union = df.select(id_col, text_col).unionByName(twins)
    pairs = minhash_dedup_pairs(
        union, text_col, id_col, **dedup_kwargs
    ).select(
        F.least("doc_id_l", "doc_id_r").alias("__a"),
        F.greatest("doc_id_l", "doc_id_r").alias("__b"),
    )
    keyed = planted.select(
        F.least("__orig", "__twin").alias("__a"),
        F.greatest("__orig", "__twin").alias("__b"),
    )
    n_planted = keyed.count()
    n_recovered = keyed.join(pairs, ["__a", "__b"], "left_semi").count()
    spark = df.sparkSession
    recall = round(n_recovered / n_planted, 6) if n_planted else None
    from auto_data_linkage_spark.session import local_rows_df

    return local_rows_df(
        spark,
        [(n_planted, n_recovered, recall)],
        "n_planted long, n_recovered long, recall double",
    )


def duplication_weights(
    df: DataFrame,
    components: DataFrame,
    *,
    id_col: str = "doc_id",
    alpha: float = 1.0,
) -> DataFrame:
    """SOFT dedup: keep every copy, DOWN-WEIGHT by cluster size —
    ``weight = n_copies^(-alpha)`` per document (singletons weigh 1.0).
    With ``alpha = 1`` each near-dup cluster contributes one document's
    worth of sampling mass in expectation; fractional ``alpha`` trades
    toward mild repetition, which the data-constrained scaling
    literature (Muennighoff et al. 2023 — public) shows is worth more
    than hard-dropping when data is the bottleneck.

    ``components`` is a ``(node, component)`` table
    (:func:`~auto_data_linkage_spark.cluster.connected_components` over
    near-dup pairs — the same input the hard keepers take). Output:
    ``(id, n_copies, weight)`` for EVERY input row. Feed ``weight``
    into :func:`~auto_data_linkage_spark.operators.pack.weighted_sample_k`
    or a mixture sampler instead of dropping rows.

    Plan: component sizes are one narrow aggregate (bounded by
    duplicate volume); the corpus side takes two broadcast-joinable
    lookups and never shuffles.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    sizes = components.groupBy("component").agg(
        F.count("*").alias("__n")
    )
    member = components.join(F.broadcast(sizes), "component").select(
        F.col("node").alias(id_col), F.col("__n")
    )
    return df.select(id_col).join(F.broadcast(member), id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("__n"), F.lit(1)).cast("int").alias("n_copies"),
        F.round(
            F.pow(F.coalesce(F.col("__n"), F.lit(1)).cast("double"),
                  F.lit(-float(alpha))),
            6,
        ).alias("weight"),
    )


def source_overlap_matrix(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source near-duplicate OVERLAP MATRIX — the training-mix
    curation artifact: for every unordered source pair, how many
    near-dup pairs link them, and at what rate relative to the maximum
    possible (``n_a·n_b`` across sources, ``n·(n−1)/2`` within one).
    A high cross rate says two sources are substantially the same
    corpus (count one of them in the mix); a high diagonal rate says a
    source is internally templated (dedup or down-weight before
    mixing).

    ``pairs`` is any ``(id_l, id_r)`` near-dup pair table
    (:func:`minhash_lsh_candidates`, :func:`simhash_near_pairs`,
    :func:`embedding_dup_pairs`, ...). Output:
    ``(source_a, source_b, n_pairs, n_docs_a, n_docs_b, dup_rate)``
    with ``source_a <= source_b`` and ``dup_rate`` rounded to 6.

    Plan: two equi-joins of the pair table against the (id, source)
    projection — the join key is the UNIQUE doc id, so there is no
    skew to salt; the matrix aggregation is |sources|²-bounded and the
    per-source counts are one narrow aggregate broadcast back. Nothing
    corpus-sized shuffles beyond the id→source projection.
    """
    src = df.select(
        F.col(id_col).alias("__id"), F.col(source_col).alias("__src")
    )
    lcol, rcol = f"{id_col}_l", f"{id_col}_r"
    tagged = (
        pairs.select(F.col(lcol).alias("__l"), F.col(rcol).alias("__r"))
        .join(src.select(F.col("__id").alias("__l"),
                         F.col("__src").alias("__sl")), "__l")
        .join(src.select(F.col("__id").alias("__r"),
                         F.col("__src").alias("__sr")), "__r")
        .select(
            F.least("__sl", "__sr").alias("source_a"),
            F.greatest("__sl", "__sr").alias("source_b"),
        )
    )
    agg = tagged.groupBy("source_a", "source_b").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    counts = df.groupBy(F.col(source_col).alias("__s")).agg(
        F.count("*").cast("bigint").alias("__n")
    )
    denom = F.when(
        F.col("source_a") == F.col("source_b"),
        (F.col("n_docs_a") * (F.col("n_docs_a") - 1) / 2.0),
    ).otherwise(F.col("n_docs_a") * F.col("n_docs_b") * 1.0)
    return (
        agg.join(
            F.broadcast(counts.select(F.col("__s").alias("source_a"),
                                      F.col("__n").alias("n_docs_a"))),
            "source_a",
        )
        .join(
            F.broadcast(counts.select(F.col("__s").alias("source_b"),
                                      F.col("__n").alias("n_docs_b"))),
            "source_b",
        )
        .select(
            "source_a", "source_b", "n_pairs", "n_docs_a", "n_docs_b",
            F.round(F.col("n_pairs") / denom, 6).alias("dup_rate"),
        )
    )
