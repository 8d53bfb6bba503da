"""Persisted ANN index: build the IVF-PQ artifacts ONCE, store them as
a directory, and serve top-k from the stored index in any later
session — the amortization a 100 TB corpus demands (encoding 10¹⁰
vectors is a full corpus pass; queries should not pay it again).

Index tables under ``path/``:

- ``coded`` — the PQ-coded corpus ``(neighbor_id, codes, __cn)``
  written ``partitionBy(cell)``: a probe of ``nprobe`` cells becomes a
  PARQUET PARTITION-PRUNED scan (only the probed ``cell=N/``
  directories are read — the on-disk analog of the in-memory cell
  equi-join, plan-tested);
- ``centroids`` — the ``(cell, centroid)`` routing table (tiny,
  broadcast at query time);
- ``tombstones`` — the deleted-ids mask (:func:`delete_from_ann_index`);
- the manifest ``meta`` — codebooks + parameters (m, n_codewords,
  dims, column names, row/cell counts).

Serving reuses :func:`similarity._ivfpq_score` — the SAME plan as the
inline :func:`similarity.ivfpq_topk`, so the stored index returns
bit-identical results (tested), and ``rerank_factor`` works whenever
the caller still has the true-vector corpus.

No reference analogue (the reference has no ANN surface) — LLM-brief
scope, Spark-first: every artifact is a parquet table or a JSON
literal; no sidecar services, no custom file formats.

Storage is the manifest protocol shared with :mod:`.lexindex` (see its
docstring): immutable ``gen=N`` dirs + one-JSON-commit manifests
(:mod:`.manifestfs`) — zero renames, object-store-safe, atomic deletes
and whole-store cutover, snapshot-pinned readers, explicit
:func:`vacuum_ann_index`. Indexes in the retired in-place ``rename``
layout are refused with a ``ValueError``; rebuild them at a new path.
The mutation model is the lexical index's too: the same sequence-stamp
tombstones, tombstone cut and append commit (imported from
:mod:`.lexindex`), and the same refusal of indexes written before the
sequence counter.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import manifestfs as M
from .lexindex import (  # one mutation model, one meta version
    _VERSION,
    _build_counters,
    _commit_append,
    _cut_tombstones,
    _mask_tombstoned,
    _read_meta,
)


@dataclass
class AnnIndex:
    """Handle to a loaded index: lazy DataFrames + literal codebooks.
    ``tombstones`` is the deleted-ids mask (``None`` when nothing was
    ever deleted) — see :func:`delete_from_ann_index`."""

    meta: dict
    centroids: DataFrame
    coded: DataFrame
    tombstones: DataFrame | None = None


def _sq8_coded(
    df: DataFrame, *, vec_col: str, id_col: str, cell_col: str
) -> DataFrame:
    """SQ8 coded rows ``(neighbor_id, cell, codes, __cn)``: cosine is
    scale-invariant (see :func:`similarity.sq8_topk`), so the index
    stores int8 codes and the CODE norm — no scale, no codebooks, and
    the ENCODING never depends on build-time state. The cell ROUTING
    still does (build-time centroids place every row), which is why
    SQ8 indexes carry the routing-drift accounting like every other
    codec — see :func:`ann_drift`."""
    from auto_data_linkage_spark.operators.similarity import (
        norm_expr,
        quantize_int8,
    )

    q, _scale = quantize_int8(F.col(vec_col))
    return df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(cell_col).alias("cell"),
        q.alias("codes"),
    ).withColumn("__cn", norm_expr(F.col("codes")))


def _pq_recon_err(
    df: DataFrame, cbs, *, vec_col: str, id_col: str
) -> float | None:
    """Mean RELATIVE QUANTIZATION ERROR of ``df`` under the codebooks:
    ``||v − recon(v)||² / ||v||²`` averaged over rows, where recon is
    the PQ reconstruction (nearest codeword per subspace). ~0 is
    lossless; it RISES monotonically as the embedding distribution
    moves outside the hull the codebooks were trained on (the standard
    IVF/PQ staleness signal — note a cosine-based fidelity is NOT
    monotone here: a scaled/sign-flipped delta can cosine-align with
    extreme codewords while its ADC scores are garbage, which is why
    the error form is used). Expanded JVM-side as
    ``(||v||² − 2·v·r + ||r||²) / ||v||²`` — one codegen pass (encode +
    literal-array codeword lookups, no join, no UDF) + one aggregate;
    zero-norm rows are excluded; None on an empty frame. Cost is one
    extra encode of ``df`` — O(corpus) once at build, O(delta) per
    append."""
    from auto_data_linkage_spark.operators.similarity import (
        _pq_adc_dot,
        _pq_recon_norm,
        norm_expr,
        pq_encode,
    )

    coded = pq_encode(df, cbs, vec_col=vec_col, id_col=id_col, keep=(vec_col,))
    vn2 = norm_expr(F.col(vec_col)) ** 2
    rn2 = _pq_recon_norm(cbs) ** 2
    err = (vn2 - 2.0 * _pq_adc_dot(cbs, qvec_col=vec_col) + rn2) / vn2
    row = (
        coded.select(err.alias("__e"))
        .where(F.col("__e").isNotNull())
        .agg(F.avg("__e"))
        .first()
    )
    return None if row[0] is None else float(row[0])


def ann_drift(meta: dict) -> float | None:
    """Distribution drift of the APPENDED generations vs the build —
    the max of two row-weighted signals, each accumulated in the same
    atomic commit as the append's data:

    - **quantization drift** (PQ codec only): ``mean(appended recon
      error) − build recon error`` (``err_sum``/``err_rows`` vs
      ``recon_err``) — rising means ADC scores are degrading;
    - **routing drift** (EVERY codec, SQ8 included): ``mean(appended
      1 − cos(v, centroid(assigned cell))) − the build corpus's same
      measure`` (``route_sum``/``route_rows`` vs ``route_err``) —
      rising means the build-time centroids no longer fit the data, so
      probe recall degrades even when the codes themselves are exact.
      This is why SQ8 indexes need the signal: their int8 codes are
      self-contained (encoding cannot drift), but their IVF cell
      assignment is still pinned to build-time centroids.

    0.0 = appends fit the build distribution; positive = it has moved
    — schedule a rebuild (or let ``sync_ann_index(rebuild_over=...)``
    trigger one). None when unmeasurable: a pre-metric index or no
    appends yet.

    Row-weighting makes the signal STABLE but also means a long history
    of in-distribution appends dilutes fresh drift (400 good rows +
    200 shifted rows read as one third of the shifted rows' own
    drift) — size ``rebuild_over`` for the diluted value, or watch
    ``meta["last_err"]`` / ``meta["last_route_err"]`` (the most recent
    append's errors, persisted alongside) for an undiluted
    early-warning signal."""
    signals = []
    if meta.get("recon_err") is not None and meta.get("err_rows"):
        signals.append(
            float(meta["err_sum"]) / int(meta["err_rows"])
            - float(meta["recon_err"])
        )
    if meta.get("route_err") is not None and meta.get("route_rows"):
        signals.append(
            float(meta["route_sum"]) / int(meta["route_rows"])
            - float(meta["route_err"])
        )
    if not signals:
        return None
    return max(0.0, max(signals))


def _route_err(
    df: DataFrame, cents: DataFrame | None, *, vec_col: str, cell_col: str
) -> float | None:
    """Mean ROUTING ERROR of ``df`` against the cell centroids:
    ``1 − cos(v, centroid(assigned cell))`` averaged over rows — the
    codec-INDEPENDENT staleness signal (cell routing always uses the
    build-time centroids, whatever the codes are). ~0 on tight
    geometry-aligned cells; RISES as the embedding distribution moves
    away from the centroids the index was built with, i.e. exactly
    when probe recall starts to decay. All JVM-side: one broadcast
    join against the (tiny) centroid table + one aggregate, no UDF.
    Zero-norm vectors/centroids are excluded; None on an empty frame
    or a missing routing table. Cost is O(rows) — one extra pass of
    the build corpus at build time, O(delta) per append."""
    from auto_data_linkage_spark.operators.similarity import (
        cosine_from_norms,
        norm_expr,
    )

    if cents is None:
        return None
    c = F.broadcast(
        cents.select(
            F.col("cell").alias("__rcell"),
            F.col("centroid").alias("__cent"),
            norm_expr(F.col("centroid")).alias("__ctn"),
        )
    )
    j = (
        df.select(
            F.col(cell_col).alias("__rcell"),
            F.col(vec_col).alias("__v"),
            norm_expr(F.col(vec_col)).alias("__vn"),
        )
        .join(c, "__rcell")
        .where((F.col("__vn") > 0) & (F.col("__ctn") > 0))
    )
    row = (
        j.select(
            (
                1.0
                - cosine_from_norms(
                    F.col("__v"), F.col("__cent"),
                    F.col("__vn"), F.col("__ctn"),
                )
            ).alias("__e")
        )
        .agg(F.avg("__e"))
        .first()
    )
    return None if row[0] is None else float(row[0])


def build_ann_index(
    corpus: DataFrame,
    path: str,
    *,
    m: int = 8,
    n_codewords: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "label",
    dim: int | None = None,
    codec: str = "pq",
    n_cells: int | None = None,
    kmeans_iter: int = 5,
    seed: int = 0,
    _replaces: dict | None = None,
) -> dict:
    """One corpus pass → stored index, committed as manifest v1.
    Centroids are the per-cell means of the existing ``cell_col``
    labels; codebooks are the deterministic md5-rank sampled PQ
    codebooks. Returns the metadata dict.

    ``n_cells`` LEARNS the routing cells instead of requiring a label
    column: k-means (:func:`similarity.kmeans_centroids`, deterministic
    farthest-first init) clusters the corpus and every row is assigned
    its nearest centroid before encoding — the unlabeled-corpus path,
    so a raw embedding table can build an index in one call.

    ``codec`` picks the compression rung: ``"pq"`` (default, 8-byte
    codes — smallest scan, approximate scores) or ``"sq8"`` (int8
    per-dimension codes — 4× smaller than floats at ~full recall,
    scored scale-invariantly; ``m``/``n_codewords`` are ignored)."""
    if codec not in ("pq", "sq8"):
        raise ValueError(f"codec must be 'pq' or 'sq8', got {codec!r}")
    from auto_data_linkage_spark.operators.similarity import (
        _pq_recon_norm,
        assign_cells,
        build_centroids,
        kmeans_centroids,
        pq_codebooks,
        pq_encode,
    )

    local = M.local_path(path)
    os.makedirs(local, exist_ok=True)

    if n_cells is not None:
        learned = kmeans_centroids(
            corpus, k=n_cells, max_iter=kmeans_iter, vec_col=vec_col,
            id_col=id_col, seed=seed,
        )
        cell_col = "__cell"
        corpus = assign_cells(
            corpus, learned, vec_col=vec_col, cell_col=cell_col
        )
    cents = build_centroids(corpus, vec_col=vec_col, cell_col=cell_col, dim=dim)
    # routing-drift baseline (codec-INDEPENDENT): how well the build
    # corpus fits its own routing centroids; appends accumulate
    # route_sum/route_rows against it — see ann_drift. Computed over
    # the corpus ONCE at build (broadcast join + one aggregate).
    route_err = _route_err(corpus, cents, vec_col=vec_col, cell_col=cell_col)
    recon_err = None
    if codec == "sq8":
        # SQ8 codes are self-contained — no drift baseline needed
        cbs = None
        coded = _sq8_coded(
            corpus, vec_col=vec_col, id_col=id_col, cell_col=cell_col
        )
    else:
        cbs = pq_codebooks(
            corpus, m=m, n_codewords=n_codewords, vec_col=vec_col,
            id_col=id_col,
        )
        # drift baseline: how well the build corpus itself encodes
        # under these codebooks (ann_drift compares appends against it)
        recon_err = _pq_recon_err(corpus, cbs, vec_col=vec_col, id_col=id_col)
        coded = pq_encode(
            corpus, cbs, vec_col=vec_col, id_col=id_col, keep=(cell_col,)
        ).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(cell_col).alias("cell"),
            "codes",
            _pq_recon_norm(cbs).alias("__cn"),
        )
    gc_ = M.next_gen(path, "coded")
    gn = M.next_gen(path, "centroids")
    coded_dir = os.path.join(local, "coded", gc_)
    cents_dir = os.path.join(local, "centroids", gn)
    seq, expected_version = _build_counters(_replaces)
    coded = coded.withColumn("__seq", F.lit(seq))
    coded.write.mode("overwrite").partitionBy("cell").parquet(coded_dir)
    cents.write.mode("overwrite").parquet(cents_dir)

    spark = corpus.sparkSession
    stats_src = spark.read.option(
        "basePath", os.path.dirname(coded_dir)
    ).parquet(coded_dir)
    n_rows, cells = (
        stats_src.agg(F.count("*"), F.collect_set("cell")).first()
    )
    meta = {
        "version": _VERSION,
        "codec": codec,
        "m": m,
        "n_codewords": n_codewords,
        "vec_col": vec_col,
        "id_col": id_col,
        "cell_col": cell_col,
        "codebooks": cbs,
        "n_rows": int(n_rows),
        "n_cells": len(cells),
        # occupied-cell inventory: lets append_ann_index maintain
        # n_rows/n_cells from the DELTA alone instead of rescanning the
        # whole coded/ tree per append (O(delta), not O(index))
        "cells": sorted(cells),
        # mutation counter: appends stamp rows with seq+1, deletes cut
        # their tombstones at the current value — re-appended ids serve
        # their new rows (lexindex._mask_tombstoned)
        "seq": seq,
        # quantization-drift baseline (PQ only, None for sq8/empty):
        # mean relative quantization error of the build corpus; appends
        # accumulate err_sum/err_rows against it — see ann_drift
        "recon_err": recon_err,
        # routing-drift baseline (every codec, None only on an empty
        # build): mean 1−cos(v, assigned centroid) of the build corpus;
        # appends accumulate route_sum/route_rows against it
        "route_err": route_err,
        # table schemas, so load_ann_index skips schema inference
        "coded_schema": coded.schema.simpleString()[7:-1],
        "centroids_schema": cents.schema.simpleString()[7:-1],
    }
    tables = M.add_gens(
        {}, "coded", M.written_parts(path, "coded", gc_), gc_
    )
    tables = M.add_gens(
        tables, "centroids", M.written_parts(path, "centroids", gn), gn
    )
    M.commit_manifest(
        path, tables=tables, meta=meta, expected_version=expected_version,
    )
    return meta


def append_ann_index(
    delta: DataFrame, path: str, *, txn: tuple | None = None,
    _attempts: int = 3,
) -> dict:
    """Incremental index growth: encode ONLY the delta with the STORED
    codebooks and append its coded rows to ``coded/`` — new corpus
    batches join the index without re-encoding what's already there
    (the same delta-only contract as ``incremental_dedup_docs`` /
    ``incremental_update``). Cells and codebooks stay fixed: a delta
    that shifts the embedding distribution degrades recall gradually
    (standard IVF practice — monitor and rebuild when cell sizes
    skew); the routing table still covers every cell, so correctness
    of the ADC scores is unaffected. Delta rows must carry the same
    ``vec_col``/``id_col``/``cell_col`` columns the index was built
    with; ids are NOT dedup-checked against the stored rows (dedup
    upstream). Delta cell labels ARE validated against the stored
    ``centroids/`` routing table — a row carrying an unknown cell would
    be appended but never probed (silently unreachable in every future
    search), so unknown cells raise. Returns the updated metadata.

    Cost is O(delta): row/cell counts update from one aggregate over
    the delta plus the occupied-cell inventory kept in the manifest
    meta — the full ``coded`` table is never rescanned. The coded
    delta lands in a fresh generation and becomes visible at one
    manifest commit, which also records the ``txn`` idempotence token
    (see :func:`lexindex.append_lex_index`)."""
    from auto_data_linkage_spark.operators.similarity import (
        _pq_recon_norm,
        pq_encode,
    )

    local = M.local_path(path)
    spark = delta.sparkSession
    snap = M.read_manifest(path)
    meta = _read_meta(snap, path, "ann")
    cents_df = M.read_table(spark, path, "centroids", snap)
    if txn is not None and M.txn_version(meta, txn[0]) >= int(txn[1]):
        return meta  # this batch already committed: a checkpoint replay
    cbs = meta["codebooks"]
    cell_col = meta["cell_col"]

    if cell_col not in delta.columns:
        # learned-cells index (build_ann_index(n_cells=...)) or a delta
        # without labels: route each row to its nearest STORED centroid —
        # the same routing queries use, so appended rows are probed
        # exactly where a search will look for them
        from auto_data_linkage_spark.operators.similarity import (
            assign_cells,
        )

        cent_rows = sorted(
            cents_df.collect() if cents_df is not None else [],
            key=lambda r: r["cell"],
        )
        if not cent_rows:
            raise ValueError("index has no centroids; cannot route delta")
        idx_to_cell = F.array(*[F.lit(r["cell"]) for r in cent_rows])
        delta = (
            assign_cells(
                delta,
                [list(r["centroid"]) for r in cent_rows],
                vec_col=meta["vec_col"],
                cell_col="__cidx",
            )
            .withColumn(
                cell_col, F.element_at(idx_to_cell, F.col("__cidx") + 1)
            )
            .drop("__cidx")
        )
    n_delta, delta_cells = delta.agg(
        F.count("*"), F.collect_set(cell_col)
    ).first()
    if n_delta == 0:
        return meta
    routed = (
        {r["cell"] for r in cents_df.select("cell").collect()}
        if cents_df is not None
        else set()
    )
    unknown = sorted(set(delta_cells) - routed)
    if unknown:
        raise ValueError(
            f"delta carries {len(unknown)} cell label(s) absent from the "
            f"index routing table (first few: {unknown[:5]}); such rows "
            "could never be probed — re-assign cells against the stored "
            "centroids (similarity.assign_cells) or rebuild the index"
        )

    if meta.get("codec", "pq") == "sq8":
        # SQ8 codes are self-contained per vector — no stored state to
        # encode against, so the ENCODING cannot drift (no recon-error
        # accounting). The cell ROUTING still uses build-time
        # centroids, so the routing-drift accounting below applies.
        coded = _sq8_coded(
            delta,
            vec_col=meta["vec_col"],
            id_col=meta["id_col"],
            cell_col=cell_col,
        )
        err = None
    else:
        coded = pq_encode(
            delta,
            cbs,
            vec_col=meta["vec_col"],
            id_col=meta["id_col"],
            keep=(cell_col,),
        ).select(
            F.col(meta["id_col"]).alias("neighbor_id"),
            F.col(cell_col).alias("cell"),
            "codes",
            _pq_recon_norm(cbs).alias("__cn"),
        )
        # drift accounting (O(delta)): this append's mean relative
        # quantization error, row-weighted into the running err_sum/
        # err_rows the same atomic commit carries — ann_drift reads it
        err = (
            _pq_recon_err(
                delta, cbs, vec_col=meta["vec_col"], id_col=meta["id_col"]
            )
            if meta.get("recon_err") is not None
            else None
        )
    # routing-drift accounting (O(delta), every codec): this append's
    # mean 1−cos(v, assigned centroid), row-weighted into the running
    # route_sum/route_rows the same atomic commit carries — ann_drift
    # compares it against the build baseline
    rerr = (
        _route_err(
            delta, cents_df, vec_col=meta["vec_col"], cell_col=cell_col
        )
        if meta.get("route_err") is not None
        else None
    )
    coded = coded.withColumn("__seq", F.lit(int(meta["seq"]) + 1))
    gc_ = M.next_gen(path, "coded")
    coded.write.partitionBy("cell").parquet(os.path.join(local, "coded", gc_))
    cp = M.written_parts(path, "coded", gc_)

    def grow(fm: dict) -> dict:
        cells = sorted(set(fm["cells"]) | set(delta_cells))
        fm["n_rows"] = int(fm["n_rows"]) + int(n_delta)
        fm["cells"] = cells
        fm["n_cells"] = len(cells)
        if err is not None:
            fm["err_sum"] = float(fm.get("err_sum", 0.0)) + err * int(n_delta)
            fm["err_rows"] = int(fm.get("err_rows", 0)) + int(n_delta)
            fm["last_err"] = float(err)
        if rerr is not None:
            fm["route_sum"] = float(fm.get("route_sum", 0.0)) + rerr * int(
                n_delta
            )
            fm["route_rows"] = int(fm.get("route_rows", 0)) + int(n_delta)
            fm["last_route_err"] = float(rerr)
        return fm

    # route_err is in the guard set because it is recomputed by every
    # rebuild — it catches a concurrent rebuild (which changes the
    # encode state our delta was encoded against) even on SQ8 indexes,
    # whose codebooks are None before AND after
    return _commit_append(
        spark, path, snap,
        kind="ann",
        keys=("version", "codec", "m", "n_codewords", "vec_col", "id_col",
              "cell_col", "codebooks", "route_err"),
        add_tables=lambda t: M.add_gens(t, "coded", cp, gc_),
        update_meta=grow,
        txn=txn,
        rerun=lambda n: append_ann_index(delta, path, txn=txn, _attempts=n),
        attempts=_attempts,
    )


def delete_from_ann_index(
    spark: SparkSession, path: str, ids, *, guard_txn: tuple | None = None
) -> dict:
    """Delete vectors from the stored index WITHOUT rewriting it — the
    dense mirror of :func:`lexindex.delete_from_lex_index` (takedowns,
    right-to-be-forgotten): a ``(neighbor_id, as_of_seq)`` row appends
    to ``tombstones/`` and probes mask it before scoring, so deleted
    vectors never appear as neighbors and ranks recompute over the
    survivors. ``ids`` is a one-column DataFrame or a Python list.

    ``n_rows`` decrements exactly (one coded scan — ids are not the
    partition key, so batch deletions); the per-cell occupancy
    inventory stays an over-approximation (it only gates append
    accounting — documented there). Physical purge happens when
    compaction rewrites a cell. A deleted id re-appended later serves
    its new rows (lexindex._mask_tombstoned) — revisions are
    first-class. Ids that are absent or already masked write NO
    tombstone — so a PRE-EMPTIVE delete of a never-appended id does
    not prevent a later append of that id from serving; permanent
    takedowns must be enforced upstream (filter the ingest) rather
    than by tombstone. Returns ``{"deleted": n, "meta":
    updated-metadata}``.

    The tombstone batch and the decremented metadata land in ONE
    manifest commit, re-run in full on a lost version race — the
    tombstone cut shared with the lexical index
    (:func:`lexindex._cut_tombstones`), so ``n_rows`` cannot drift.
    ``guard_txn=(app_id, batch_id)`` — same conditional-delete
    contract as :func:`lexindex.delete_from_lex_index`."""

    def shrink(hits: DataFrame, tables: dict, meta: dict):
        n_del = hits.count()
        meta["n_rows"] = int(meta["n_rows"]) - int(n_del)
        return n_del, tables, meta

    return _cut_tombstones(
        spark, path, ids, kind="ann", table="coded", id_col="neighbor_id",
        shrink=shrink, guard_txn=guard_txn,
    )


def compact_ann_index(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_cell: int = 8,
    target_rows_per_file: int = 5_000_000,
) -> dict:
    """Rewrite over-fragmented cells of ``coded`` into few large files
    — the index-side mirror of
    :func:`..sources.corpusstore.compact_corpus_snapshot`.
    Streaming ingestion via :func:`ann_index_sink` appends one small
    parquet file per cell per micro-batch, so without maintenance a
    long-running stream degrades every probe-time scan into
    thousands-of-tiny-files I/O.

    Only cells whose data-file count exceeds ``max_files_per_cell`` are
    rewritten (a cell-targeted parquet read; untouched cells are never
    scanned), tombstone-purged, into one fresh generation
    (:func:`manifestfs.compact_table`); every rewritten cell cuts over
    in one atomic manifest commit (pinned readers untouched;
    superseded generations reclaimed by :func:`vacuum_ann_index`).
    Codebooks and centroids are untouched. Returns a summary dict
    ``{cells_rewritten, files_before, files_after, rows_rewritten}``."""
    snap = M.read_manifest(path)
    meta = _read_meta(snap, path, "ann")
    tombstones = M.read_table(spark, path, "tombstones", snap)
    out = M.compact_table(
        spark, path, snap, "coded",
        max_files=max_files_per_cell,
        partition_by=["cell"], sort_by=["cell", "neighbor_id"],
        max_records_per_file=target_rows_per_file,
        # physical purge of deleted rows in the rewritten cells (probe
        # results unchanged — the tombstone anti-join already masked
        # them); the mask stays for the unrewritten cells
        rewrite=lambda df: _mask_tombstoned(
            df, tombstones, id_col="neighbor_id"
        ),
        tables=None,
    )
    if out["parts"]:
        M.commit_manifest(
            path, tables=out["tables"], meta=meta,
            expected_version=snap["version"],
        )
    return {
        "cells_rewritten": len(out["parts"]),
        "files_before": out["files_before"],
        "files_after": out["files_after"],
        "rows_rewritten": out["rows"],
    }


def vacuum_ann_index(
    path: str, *, keep_manifests: int = 2, min_age_seconds: float = 3600.0
) -> dict:
    """Reclaim generations superseded by compaction/rebuild and orphans
    of crashed writers — see :func:`manifestfs.vacuum` for the
    reader-pinning grace contract and the ``min_age_seconds`` misuse
    guard."""
    return M.vacuum(
        path, keep_manifests=keep_manifests, min_age_seconds=min_age_seconds
    )


def rebuild_ann_index(corpus: DataFrame, path: str, **build_kwargs) -> dict:
    """Rebuild the index IN PLACE from the current corpus and promote
    it atomically — the documented answer to codebook/centroid drift
    (appends keep build-time cells fixed; when the embedding
    distribution moves, recall degrades gradually and a rebuild
    retrains). The rebuild writes fresh generations and promotes them
    in one manifest commit that replaces every table and drops the
    tombstone mask — pinned readers keep the old index until
    :func:`vacuum_ann_index`, and a crash before the commit leaves the
    old index serving.

    Tombstones do NOT carry over: the rebuild reflects exactly the
    corpus passed in (deletions should already be gone from it). The
    mutation counter carries forward (old ``seq`` + 1), as in
    :func:`.lexindex.rebuild_lex_index`. It is also how an index
    written before the sequence counter is brought back into service.
    ``build_kwargs`` forward to :func:`build_ann_index` (m, n_codewords,
    column names...). Returns the new metadata."""
    return build_ann_index(
        corpus, path, _replaces=M.read_manifest(path), **build_kwargs
    )


def ann_index_sink(
    path: str,
    *,
    compact_over: int | None = None,
    app_id: str | None = None,
):
    """``foreachBatch`` sink folding each micro-batch of vectors into
    the persisted index via :func:`append_ann_index` — continuous
    embedding ingestion (the streaming analog of
    ``sources.corpusstore.corpus_snapshot_sink``). The index must
    already exist (:func:`build_ann_index` on the initial corpus). With
    ``app_id`` set, appends are EXACTLY-ONCE across replays: the
    ``(app_id, batch_id)`` idempotence token commits atomically with
    the batch's coded rows, so a batch replayed after a crash — before
    OR after its commit — lands exactly once (see
    :func:`manifestfs.txn_version`). ``app_id`` names the query's
    checkpoint lineage and is OPT-IN (default None = no token,
    at-least-once): an implicit shared default would silently drop the
    first batches of a new query whose fresh checkpoint resets batch
    ids — a new checkpoint dir must come with a new app_id.

    ``compact_over`` enables inline maintenance: after each append, any
    cell holding more than that many parquet files is rewritten via
    :func:`compact_ann_index` (each micro-batch appends one small file
    per touched cell, so a long-running stream otherwise fragments
    probe-time scans without bound). The compaction commit interleaves
    with the appends; concurrent readers keep their pinned snapshot.

    Usage::

        stream.writeStream.foreachBatch(ann_index_sink("/idx"))
              .option("checkpointLocation", ckpt).start()
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_ann_index(
            batch_df,
            path,
            txn=None if app_id is None else (app_id, batch_id),
        )
        if compact_over is not None:
            compact_ann_index(
                batch_df.sparkSession, path, max_files_per_cell=compact_over
            )

    return _sink


def load_ann_index(
    spark: SparkSession, path: str, *, version: int | None = None
) -> AnnIndex:
    """Handle over the stored index. The manifest read PINS the
    snapshot — the returned DataFrames name immutable generation
    directories, so later appends/compactions/rebuilds never change
    what this handle serves (until vacuum). ``version`` TIME-TRAVELS
    to that exact committed snapshot (see
    :func:`lexindex.load_lex_index`)."""
    snap = M.read_manifest(path, version)
    return AnnIndex(
        meta=_read_meta(snap, path, "ann"),
        centroids=M.read_table(
            spark, path, "centroids", snap,
            schema=snap["meta"].get("centroids_schema"),
        ),
        coded=M.read_table(
            spark, path, "coded", snap,
            schema=snap["meta"].get("coded_schema"),
        ),
        tombstones=M.read_table(spark, path, "tombstones", snap),
    )


def ann_index_topk(
    index: AnnIndex,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 2,
    rerank_factor: int = 0,
    corpus: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k from the STORED index — identical plan (and results) to
    the inline :func:`similarity.ivfpq_topk`, except the coded side is
    the partition-pruned parquet scan instead of a fresh encode. Pass
    ``corpus`` (true vectors) to enable ``rerank_factor``.

    ``exclude_self`` (default True, inline-path parity) drops hits with
    ``query_id == neighbor_id`` — correct when queries ARE corpus rows
    (self-search). Pass ``False`` when serving external queries whose
    id space is unrelated to the corpus ids: both are typically small
    integers, and a coincidental id collision would otherwise silently
    lose that neighbor.

    An SQ8-codec index (``build_ann_index(codec="sq8")``) serves
    through the same probe plan with the scale-invariant int8 dot as
    the score numerator (see :func:`similarity.sq8_topk`)."""
    from auto_data_linkage_spark.operators.similarity import (
        _ivfpq_score,
        dot_expr,
    )

    adc = (
        dot_expr(F.col("codes"), F.col("__qvec"))
        if index.meta.get("codec", "pq") == "sq8"
        else None
    )
    coded = index.coded
    if index.tombstones is not None:
        # deleted-ids mask (delete_from_ann_index): deleted-ids-sized,
        # broadcast; the cell-pruning filter pushes through the
        # anti-join's left side so the partition-pruned scan is kept.
        # Re-appended ids serve their NEW rows
        # (lexindex._mask_tombstoned).
        coded = _mask_tombstoned(
            coded, index.tombstones, id_col="neighbor_id"
        )
    return _ivfpq_score(
        coded,
        index.centroids,
        index.meta["codebooks"],
        queries,
        k=k,
        nprobe=nprobe,
        vec_col=index.meta["vec_col"],
        id_col=index.meta["id_col"],
        rerank_factor=rerank_factor,
        corpus=corpus,
        exclude_self=exclude_self,
        adc=adc,
    )
