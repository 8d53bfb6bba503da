"""Persisted lexical (BM25) index: build the inverted index ONCE, store
it as a directory, and serve top-k from the stored artifacts in any
later session — the sparse-retrieval mirror of the persisted ANN index
(operators/annindex.py), with the same build / append / compact /
streaming-sink / serve lifecycle.

Index tables under ``path/``:

- ``postings`` — ``(doc_id, dl, term, tf)`` written
  ``partitionBy(bucket)`` where ``bucket = pmod(md5_hash64(term),
  n_buckets)``: a probe for a query's terms becomes a PARQUET
  PARTITION-PRUNED scan — only the ``bucket=N/`` directories any query
  term hashes into are read (plan-tested), the on-disk analog of the
  broadcast vocabulary join :func:`retrieval.bm25_topk` performs
  in-memory.
- ``terms`` — ``(term, df)`` document frequencies, also
  ``partitionBy(bucket)``. Appends write df DELTAS; probes aggregate
  ``SUM(df)`` over the pruned buckets, so growing the index never
  rewrites the stored stats (``compact_lex_index`` merges delta rows
  back to one row per term when fragmentation warrants).
- ``tombstones`` — the deleted-ids mask (:func:`delete_from_lex_index`).
- the manifest ``meta`` — ``{n_docs, sum_dl, n_buckets, ...}``.
  ``n_docs`` / ``sum_dl`` update incrementally from one aggregate over
  each delta (never a full-index rescan), and ``avgdl = sum_dl /
  n_docs`` is exact at any append count — a float running-average
  would drift.

Serving (:func:`lex_index_topk`) reuses the exact scoring tail of
:func:`retrieval.bm25_topk` (same idf/tf saturation, same 6-decimal
round, same doc_id tie-break), so the stored index returns results
equal to the inline plan over the same corpus (tested).

No reference analogue (the reference has no retrieval surface) —
LLM-brief scope, Spark-first: every artifact is a parquet table or a
JSON literal; no sidecar services, no custom file formats.

Storage: immutable ``gen=N`` data directories plus a linear log of
JSON manifests committed by conditional create (:mod:`.manifestfs`) —
zero renames, so maintenance works on object stores (S3/GCS). Every
mutation (append, DELETE — all three artifacts in one commit,
multi-bucket compaction, whole-store rebuild) is one atomic manifest
commit; loaded indexes PIN the snapshot they opened (concurrent
maintenance never changes what a reader sees; reclamation is an
explicit :func:`vacuum_lex_index`). Indexes written by older versions
in the retired in-place ``rename`` layout are refused with a
``ValueError`` (:func:`manifestfs.reject_legacy_store`); rebuild them
at a new path.

One mutation model, shared with :mod:`.annindex`: rows carry the
store's sequence counter at append time and tombstones the counter
they were cut at (:func:`_mask_tombstoned`); :func:`_cut_tombstones`
and :func:`_commit_append` are the one delete and the one append
commit of both indexes. An index written before the counter existed
(no ``seq`` in its meta) is refused before any read or write
(:func:`_read_meta`) — rebuild it.

Scale design: the postings shuffle at build time is the inverted index
itself (map-side combined distinct (doc, term) pairs — any index build
must pay it once). Probe-time work is bounded by |query vocabulary|:
pruned postings buckets × broadcast term join; the corpus text is never
re-read. Hot terms ("the") make big postings lists, not hot SHUFFLE
keys — the score aggregation groups by (query_id, doc_id), which AQE
splits if a stop-word-heavy query skews it; `min_df_prune` offers the
standard stop-list cut.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import manifestfs as M
from auto_data_linkage_spark.operators import text as X
from auto_data_linkage_spark.operators.retrieval import doc_postings

_VERSION = 1

__all__ = [
    "build_lex_index",
    "append_lex_index",
    "compact_lex_index",
    "delete_from_lex_index",
    "rebuild_lex_index",
    "vacuum_lex_index",
    "lex_index_sink",
    "load_lex_index",
    "lex_index_topk",
    "LexIndex",
]


def _read_meta(snap: dict, path: str, kind: str) -> dict:
    """The snapshot's metadata, checked against the supported version
    and the one tombstone model (sequence stamps, see
    :func:`_mask_tombstoned`) — shared by the lexical and ANN indexes,
    and called before any read or write of the store. An index written
    before the sequence counter existed (no ``seq`` in its meta) is
    refused: rebuild it."""
    meta = dict(snap["meta"])
    if meta.get("version") != _VERSION:
        raise ValueError(
            f"unsupported {kind}-index version {meta.get('version')!r}"
        )
    if "seq" not in meta:
        raise ValueError(
            f"{path} is a {kind} index written before the sequence "
            "counter (its tombstones cannot tell a re-appended id from "
            f"a deleted one); rebuild it with rebuild_{kind}_index or "
            "at a new path"
        )
    return meta


def _read_table(
    spark: SparkSession, path: str, table: str, snap: dict
) -> DataFrame | None:
    """``table`` of the snapshot, read with the schema the build
    recorded (postings and terms) so opening skips schema inference."""
    return M.read_table(
        spark, path, table, snap, schema=snap["meta"].get(f"{table}_schema")
    )


@dataclass
class LexIndex:
    """Handle to a loaded index: metadata + lazy parquet DataFrames.
    ``tombstones`` is the deleted-ids mask (``None`` when nothing was
    ever deleted) — see :func:`delete_from_lex_index`."""

    meta: dict
    postings: DataFrame
    terms: DataFrame
    tombstones: DataFrame | None = None


def _bucket(term_col, n_buckets: int):
    return F.pmod(X.md5_hash64(term_col), F.lit(n_buckets)).cast("int")


def _bucketed_postings(
    docs: DataFrame, *, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """(doc_id, dl, term, tf, bucket) — the shared build/append encode
    path, so appended postings are tokenized and bucketed EXACTLY like
    built ones (a drifted tokenizer would strand rows in unprobed
    buckets)."""
    return doc_postings(docs, id_col=id_col, text_col=text_col).withColumn(
        "bucket", _bucket(F.col("term"), n_buckets)
    )


def _mask_tombstoned(
    rows: DataFrame | None,
    tombs: DataFrame | None,
    id_col: str = "doc_id",
):
    """Live view of postings/coded rows under the tombstone mask. Rows
    carry ``__seq`` — the store's mutation counter at append time — and
    tombstones carry ``as_of_seq``, the counter they were cut at; a cut
    masks only rows appended AT OR BEFORE it, so a doc id deleted and
    later re-appended is live again (revisions — delete old row,
    append new row, same id — flow through the index)."""
    if tombs is None or rows is None:
        return rows
    t = tombs.select(F.col(id_col).alias("__t_id"), F.col("as_of_seq"))
    return rows.join(
        t,
        on=(rows[id_col] == F.col("__t_id"))
        & (rows["__seq"] <= F.col("as_of_seq")),
        how="left_anti",
    )


def _build_counters(replaces: dict | None) -> tuple[int, int]:
    """``(seq, expected_version)`` for a build's commit: a new store
    (``replaces=None``) starts at counter 1 and manifest v1; a rebuild
    of the snapshot ``replaces`` carries its counter forward (+1), so
    the counter never goes down and an append staged before the
    rebuild still sees it move (:func:`_commit_append`)."""
    if replaces is None:
        return 1, 0
    return int(replaces["meta"].get("seq", 0)) + 1, replaces["version"]


def _build_commit(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str,
    text_col: str,
    n_buckets: int,
    replaces: dict | None,
) -> dict:
    """Write a complete fresh build into new generations and return
    the committed manifest — v1 for a new store (``replaces=None``),
    vN+1 replacing every table of the snapshot ``replaces`` for a
    rebuild (old generations stay on disk for pinned readers until
    vacuum). Postings rows are stamped with ``__seq`` = the store's
    mutation counter after the build (:func:`_build_counters`) —
    appends stamp meta.seq+1, tombstones record the counter they were
    cut at; see :func:`_mask_tombstoned`."""
    seq, expected_version = _build_counters(replaces)
    local = M.local_path(path)
    gp = M.next_gen(path, "postings")
    gt = M.next_gen(path, "terms")
    posts = (
        _bucketed_postings(
            corpus, id_col=id_col, text_col=text_col, n_buckets=n_buckets
        )
        .withColumn("__seq", F.lit(seq))
        .localCheckpoint(eager=False)
    )
    posts.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(local, "postings", gp)
    )
    # df per term: each doc contributes one postings row per distinct
    # term, so count(*) per term IS the document frequency.
    (
        posts.groupBy("bucket", "term")
        .agg(F.count("*").alias("df"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(os.path.join(local, "terms", gt))
    )
    n_docs, sum_dl = corpus.select(
        F.col(id_col), F.size(X.tokens(text_col)).alias("__dl")
    ).agg(F.count("*"), F.sum("__dl")).first()
    meta = {
        "version": _VERSION,
        "n_buckets": n_buckets,
        "id_col": id_col,
        "text_col": text_col,
        "n_docs": int(n_docs),
        "sum_dl": int(sum_dl or 0),
        # mutation counter: appends stamp rows with seq+1, deletes cut
        # their tombstones at the current value (_mask_tombstoned)
        "seq": seq,
        # an EMPTY build writes no parquet data files, so the loader
        # cannot infer schemas from disk — store them (DDL) at build
        # time and fall back to empty frames on read
        "postings_schema": posts.schema.simpleString()[7:-1],
        "terms_schema": "bucket int, term string, df bigint",
    }
    tables = M.add_gens({}, "postings", M.written_parts(path, "postings", gp), gp)
    tables = M.add_gens(tables, "terms", M.written_parts(path, "terms", gt), gt)
    return M.commit_manifest(
        path, tables=tables, meta=meta, expected_version=expected_version
    )


def build_lex_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> dict:
    """One corpus pass → stored inverted index, committed as manifest
    v1. Returns the metadata dict."""
    os.makedirs(M.local_path(path), exist_ok=True)
    return _build_commit(
        corpus,
        path,
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
        replaces=None,
    )["meta"]


class _RestampRequired(Exception):
    """A concurrent DELETE cut tombstones at or past this append's
    __seq stamp while the append raced its commit — committing the
    stale-stamped rows would mask them on arrival. The append re-runs
    fully (re-encode against the fresh counter)."""


def _commit_append(
    spark: SparkSession,
    path: str,
    snap: dict,
    *,
    kind: str,
    keys: tuple[str, ...],
    add_tables,
    update_meta,
    txn: tuple | None,
    rerun,
    attempts: int,
) -> dict:
    """The one append commit of the lexical and ANN indexes. The
    delta's generations are already written (rows stamped ``__seq =
    snap seq + 1``); this merges them into the FRESH snapshot with
    :func:`manifestfs.commit_with_retry`, so losing the version race
    to another append, a delete or a compaction only re-runs the
    manifest merge. ``add_tables(tables)`` adds the delta generations,
    ``update_meta(meta)`` returns the meta with the store's counts
    grown; the commit also bumps ``seq`` and records ``txn``.

    Guards, all atomic with the commit: a fresh snapshot already
    carrying ``txn`` aborts (:class:`manifestfs.AlreadyApplied` — a
    concurrent writer with the same token won, merging would
    double-append); a changed parameter in ``keys`` (a concurrent
    rebuild) raises; a concurrent delete whose cut covers our stamp
    would mask the rows on arrival, so the append re-runs fully via
    ``rerun(attempts - 1)`` against the fresh counter. Returns the
    committed metadata."""
    orig = snap["meta"]
    stamp = int(orig["seq"]) + 1

    def mutate(fresh: dict):
        fm = fresh["meta"]
        if txn is not None and M.txn_version(fm, txn[0]) >= int(txn[1]):
            raise M.AlreadyApplied(fresh)
        for k in keys:
            if fm.get(k) != orig.get(k):
                raise M.ManifestConflictError(
                    f"{kind}-index parameter {k!r} changed under this "
                    "append (concurrent rebuild?) — re-run the append "
                    "against the new index"
                )
        if int(fm["seq"]) != int(orig["seq"]):
            # our rows were stamped against the OLD counter; appends
            # alone move seq but cut nothing, so only a fresh cut at or
            # past the stamp forces a restamp
            tombs = M.read_table(spark, path, "tombstones", fresh)
            if tombs is not None:
                mx = tombs.agg(F.max("as_of_seq")).first()[0]
                if mx is not None and int(mx) >= stamp:
                    raise _RestampRequired()
        m2 = update_meta(dict(fm))
        m2["seq"] = int(fm["seq"]) + 1
        return add_tables(fresh["tables"]), M.with_txn(m2, txn)

    try:
        return M.commit_with_retry(path, mutate)["meta"]
    except M.AlreadyApplied as e:
        return dict(e.snapshot["meta"])
    except _RestampRequired:
        if attempts <= 1:
            raise M.ManifestConflictError(
                "this append keeps racing concurrent deletes whose "
                "tombstone cuts cover its row stamps — serialize "
                "the writers"
            ) from None
        # the losing attempt's generations are vacuumable orphans
        return rerun(attempts - 1)


def append_lex_index(
    delta: DataFrame, path: str, *, txn: tuple | None = None,
    _attempts: int = 3,
) -> dict:
    """Incremental index growth, O(delta): tokenize/bucket ONLY the new
    documents with the stored parameters, append their postings, and
    append per-term df DELTAS to ``terms`` (readers sum df, so no
    stored row is ever rewritten). ``n_docs``/``sum_dl`` update from one
    aggregate over the delta. Ids are NOT dedup-checked against stored
    rows (dedup upstream — the same contract as ``append_ann_index``).
    Rows carry ``__seq`` = the store's counter + 1, so a previously
    deleted id re-appended here is LIVE (:func:`_mask_tombstoned`).

    The delta lands in fresh ``gen=N`` dirs and becomes visible only at
    the single manifest commit — a crash before the commit leaves
    nothing visible, so a checkpointed streaming replay of the failed
    batch appends exactly once. A concurrent commit costs only a
    manifest merge; a concurrent REBUILD (it may change
    tokenization-relevant parameters) is guarded and loud
    (:func:`_commit_append`).

    ``txn=(app_id, batch_id)`` makes replays idempotent from the OTHER
    side too (crash AFTER the commit but before the streaming
    checkpoint advanced): the token is recorded atomically in the same
    manifest commit as the append, and an append re-presenting an
    already-recorded batch id is skipped (see
    :func:`manifestfs.txn_version`)."""
    local = M.local_path(path)
    snap = M.read_manifest(path)
    meta = _read_meta(snap, path, "lex")
    if txn is not None and M.txn_version(meta, txn[0]) >= int(txn[1]):
        return meta  # this batch already committed: a checkpoint replay
    n_docs, sum_dl = delta.select(
        F.size(X.tokens(meta["text_col"])).alias("__dl")
    ).agg(F.count("*"), F.sum("__dl")).first()
    if not n_docs:
        return meta
    posts = (
        _bucketed_postings(
            delta,
            id_col=meta["id_col"],
            text_col=meta["text_col"],
            n_buckets=meta["n_buckets"],
        )
        .withColumn("__seq", F.lit(int(meta["seq"]) + 1))
        .localCheckpoint(eager=False)
    )
    gp = M.next_gen(path, "postings")
    gt = M.next_gen(path, "terms")
    posts.write.mode("append").partitionBy("bucket").parquet(
        os.path.join(local, "postings", gp)
    )
    (
        posts.groupBy("bucket", "term")
        .agg(F.count("*").alias("df"))
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(os.path.join(local, "terms", gt))
    )
    pp = M.written_parts(path, "postings", gp)
    tp = M.written_parts(path, "terms", gt)

    def grow(fm: dict) -> dict:
        fm["n_docs"] = int(fm["n_docs"]) + int(n_docs)
        fm["sum_dl"] = int(fm["sum_dl"]) + int(sum_dl or 0)
        return fm

    return _commit_append(
        delta.sparkSession, path, snap,
        kind="lex",
        keys=("version", "n_buckets", "id_col", "text_col"),
        add_tables=lambda t: M.add_gens(
            M.add_gens(t, "postings", pp, gp), "terms", tp, gt
        ),
        update_meta=grow,
        txn=txn,
        rerun=lambda n: append_lex_index(delta, path, txn=txn, _attempts=n),
        attempts=_attempts,
    )


def delete_from_lex_index(
    spark: SparkSession, path: str, ids, *, guard_txn: tuple | None = None
) -> dict:
    """Delete documents from the stored index WITHOUT rewriting it —
    the corpus-lifecycle path (takedowns, right-to-be-forgotten, bad
    crawls) a 100 TB append-only store otherwise lacks. ``ids`` is a
    one-column DataFrame of doc ids or a Python list.

    Everything is a DELTA, riding the contracts the store already has:

    - a ``(doc_id, as_of_seq)`` row appends to ``tombstones`` — probes
      LEFT-ANTI it (deleted-ids-sized, AQE broadcasts it);
    - a NEGATIVE df delta ``(term, -n)`` appends to ``terms`` for the
      deleted docs' terms — the probe's SUM(df)-at-read then yields the
      exact post-delete document frequencies with no stored row
      rewritten;
    - ``n_docs`` / ``sum_dl`` decrement exactly from one postings scan
      (the same exactness contract appends keep).

    All three artifacts land in ONE manifest commit: the delete is
    atomic, and a crash before the commit leaves nothing visible, so
    the retry deletes cleanly. Net effect: post-delete top-k is
    BIT-EQUAL to an index freshly built without the deleted documents
    (tested) — idf, avgdl, and the candidate set all see the deletion.
    Cost: ONE full postings scan per delete call (doc ids are not the
    partition key), so batch deletions. Physical purge of the masked
    postings rows happens at the next compaction. Ids that are absent
    or already masked write NO tombstone (the mask stays proportional
    to rows actually deleted) — a pre-emptive delete of a
    never-appended id does not prevent a later append of that id from
    serving, and a re-appended id serves again; permanent takedowns
    must be enforced upstream (filter the ingest) rather than by
    tombstone. Returns ``{"deleted": n, "meta": updated-metadata}``.

    ``guard_txn=(app_id, batch_id)`` makes the delete CONDITIONAL on
    the index's stored idempotence token still being below
    ``batch_id``: when the fresh snapshot already carries the token,
    the delete no-ops (``{"skipped_txn": True}``). The check is atomic
    with the commit (re-run on a lost version race re-checks fresh
    state), closing the sync race where an overlapping :mod:`.sync`
    pass would otherwise re-cut tombstones AFTER the leader's
    re-append landed, masking the revision rows.
    """
    local = M.local_path(path)

    def shrink(hits: DataFrame, tables: dict, meta: dict):
        # the deleted docs' rows feed BOTH the exact n_docs/sum_dl
        # decrement and the per-term negative df deltas
        n_del, dl_del = (
            hits.select("doc_id", "dl")
            .distinct()
            .agg(F.count("*"), F.coalesce(F.sum("dl"), F.lit(0)))
            .first()
        )
        if n_del:
            gt = M.next_gen(path, "terms")
            (
                hits.groupBy("bucket", "term")
                .agg((-F.count("*")).alias("df"))
                .write.partitionBy("bucket")
                .parquet(os.path.join(local, "terms", gt))
            )
            tables = M.add_gens(
                tables, "terms", M.written_parts(path, "terms", gt), gt
            )
            meta["n_docs"] = int(meta["n_docs"]) - int(n_del)
            meta["sum_dl"] = int(meta["sum_dl"]) - int(dl_del)
        return n_del, tables, meta

    return _cut_tombstones(
        spark, path, ids, kind="lex", table="postings", id_col="doc_id",
        shrink=shrink, guard_txn=guard_txn,
    )


def _cut_tombstones(
    spark: SparkSession,
    path: str,
    ids,
    *,
    kind: str,
    table: str,
    id_col: str,
    shrink,
    guard_txn: tuple | None,
) -> dict:
    """The one tombstone cut of the lexical and ANN indexes: the LIVE
    rows of ``table`` whose ``id_col`` is in ``ids`` get a tombstone at
    the store's current ``seq`` (masking every row appended at or
    before it, :func:`_mask_tombstoned`), committed in ONE manifest
    together with whatever ``shrink(hits, tables, meta) -> (n_deleted,
    tables, meta)`` adds — the store's own counts and stats deltas.
    Nothing is committed when no live row matches (a cut masks nothing
    appended after it).

    A lost version race re-RUNS the whole cut against the fresh
    snapshot (:func:`manifestfs.retry_on_conflict`): its counts were
    computed from the snapshot it read, so a racing append may have
    added rows with the very ids being deleted. The losing attempt's
    generations are vacuumable orphans."""

    def once() -> dict:
        snap = M.read_manifest(path)
        meta = _read_meta(snap, path, kind)
        if guard_txn is not None and M.txn_version(
            meta, guard_txn[0]
        ) >= int(guard_txn[1]):
            # the guarded token is already committed — this delete
            # belongs to a sync pass another writer completed; cutting
            # now would mask rows that writer re-appended
            return {"deleted": 0, "meta": meta, "skipped_txn": True}
        rows = M.read_table(
            spark, path, table, snap, schema=meta[f"{table}_schema"]
        )
        if rows is None:
            return {"deleted": 0, "meta": meta}
        id_type = rows.schema[id_col].dataType
        if isinstance(ids, DataFrame):
            wanted = ids.select(
                F.col(ids.columns[0]).cast(id_type).alias(id_col)
            )
        else:
            from auto_data_linkage_spark.session import local_rows_df

            wanted = local_rows_df(
                spark, [(i,) for i in ids], [id_col]
            ).select(F.col(id_col).cast(id_type))
        # the live view already excludes earlier-masked rows, so a
        # re-delete of a re-appended id counts only its live rows
        live = _mask_tombstoned(
            rows, M.read_table(spark, path, "tombstones", snap), id_col
        )
        hits = live.join(wanted.distinct(), id_col, "left_semi")
        hits = hits.localCheckpoint(eager=True)
        n_del, tables, meta = shrink(hits, snap["tables"], meta)
        if not n_del:
            return {"deleted": 0, "meta": meta}
        gb = M.next_gen(path, "tombstones")
        hits.select(id_col).distinct().withColumn(
            "as_of_seq", F.lit(int(meta["seq"]))
        ).write.parquet(os.path.join(M.local_path(path), "tombstones", gb))
        tables = M.add_gens(
            tables, "tombstones", M.written_parts(path, "tombstones", gb), gb
        )
        M.commit_manifest(
            path, tables=tables, meta=meta, expected_version=snap["version"]
        )
        return {"deleted": int(n_del), "meta": meta}

    return M.retry_on_conflict(once)


def compact_lex_index(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_bucket: int = 8,
    target_rows_per_file: int = 5_000_000,
) -> dict:
    """Rewrite over-fragmented buckets (streaming appends create one
    small file per touched bucket per micro-batch) — the lexical mirror
    of :func:`annindex.compact_ann_index`. ``postings`` rows are
    rewritten verbatim into fewer files; ``terms`` df deltas are MERGED
    back to one row per term (``SUM(df)``), shrinking the probe-time
    aggregation to its build-time size. Only buckets over
    ``max_files_per_bucket`` are touched. The rewrites land in one
    fresh generation per table and ALL rewritten buckets of BOTH
    tables cut over in one atomic manifest commit (readers pinned to
    the old manifest keep serving it); superseded generations are
    reclaimed by :func:`vacuum_lex_index`.

    Rewritten buckets are also PURGED: postings rows of tombstoned
    docs (:func:`delete_from_lex_index`) are dropped and merged
    ``terms`` rows whose df deltas cancel to 0 are removed — probe
    results are unchanged (the tombstone mask and SUM(df) already
    masked them), the bytes just stop being carried; rows of
    RE-APPENDED ids survive the purge (it is the probes' mask).
    The tombstone rows themselves are kept (unrewritten buckets still
    need them; past cuts never mask newer appends).
    Returns ``{buckets_rewritten, files_before, files_after}``."""
    snap = M.read_manifest(path)
    meta = _read_meta(snap, path, "lex")
    tombstones = M.read_table(spark, path, "tombstones", snap)

    def merge_terms(df: DataFrame) -> DataFrame:
        # deltas collapse (delete's negatives included); a term whose
        # deltas cancel to 0 carries no information — drop it
        return (
            df.groupBy("bucket", "term")
            .agg(F.sum("df").alias("df"))
            .where(F.col("df") != 0)
        )

    tables = snap["tables"]
    summary = {"buckets_rewritten": 0, "files_before": 0, "files_after": 0}
    for table, rewrite in (
        ("postings", lambda df: _mask_tombstoned(df, tombstones)),
        ("terms", merge_terms),
    ):
        out = M.compact_table(
            spark, path, snap, table,
            max_files=max_files_per_bucket,
            partition_by=["bucket"], sort_by=["bucket", "term"],
            max_records_per_file=target_rows_per_file,
            rewrite=rewrite, tables=tables,
        )
        tables = out["tables"]
        summary["buckets_rewritten"] += len(out["parts"])
        summary["files_before"] += out["files_before"]
        summary["files_after"] += out["files_after"]
    if summary["buckets_rewritten"]:
        M.commit_manifest(
            path, tables=tables, meta=meta, expected_version=snap["version"]
        )
    return summary


def rebuild_lex_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> dict:
    """Rebuild the index IN PLACE from the current corpus and promote
    it atomically — the periodic from-scratch pass that resets
    accumulated tombstones, re-buckets after an ``n_buckets`` change,
    and returns every artifact to its build-time compactness. The
    rebuild writes fresh generations and promotes them by committing a
    manifest that REPLACES every table (and drops the tombstone mask)
    — a one-commit whole-store cutover; readers pinned to the old
    manifest keep serving it bit-exactly until :func:`vacuum_lex_index`
    reclaims it, and a crash before the commit leaves the old index
    untouched (the orphan generations are vacuumed later).

    Tombstones do NOT carry over — the rebuild reflects exactly the
    corpus passed in. The mutation counter does: the rebuild commits
    the old ``seq`` + 1, so a delete after an append that raced the
    rebuild still cuts past that append's stamp. It is also how an
    index written before the sequence counter is brought back into
    service. Parameters default as in :func:`build_lex_index`. Returns
    the new metadata."""
    return _build_commit(
        corpus,
        path,
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
        replaces=M.read_manifest(path),
    )["meta"]


def lex_index_sink(
    path: str,
    *,
    compact_over: int | None = None,
    app_id: str | None = None,
):
    """``foreachBatch`` sink folding each micro-batch of documents into
    the persisted index via :func:`append_lex_index` — continuous
    corpus ingestion with serveable lexical search (the sparse mirror
    of :func:`annindex.ann_index_sink`). ``compact_over`` runs inline
    maintenance after each append when any bucket exceeds that many
    files; inline compaction never disturbs concurrent readers (they
    pinned the prior manifest).

    With ``app_id`` set the sink is EXACTLY-ONCE: a replayed batch
    whose append crashed before its commit re-appends exactly once
    (nothing uncommitted is visible); a replayed batch whose append
    COMMITTED but whose streaming checkpoint didn't advance is
    recognized by its ``(app_id, batch_id)`` token — recorded
    atomically in the same manifest commit as the data — and skipped.
    ``app_id`` names the query's checkpoint lineage and is deliberately
    OPT-IN (default None = no token, at-least-once): a shared implicit
    default would silently DROP the first batches of any new query
    whose fresh checkpoint resets batch ids to 0 — restarting from a
    new checkpoint directory must come with a new app_id."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_lex_index(
            batch_df,
            path,
            txn=None if app_id is None else (app_id, batch_id),
        )
        if compact_over is not None:
            compact_lex_index(
                batch_df.sparkSession,
                path,
                max_files_per_bucket=compact_over,
            )

    return _sink


def vacuum_lex_index(
    path: str, *, keep_manifests: int = 2, min_age_seconds: float = 3600.0
) -> dict:
    """Reclaim generations superseded by compaction/rebuild/delete and
    orphans of crashed writers — see :func:`manifestfs.vacuum` for the
    reader-pinning grace contract and the ``min_age_seconds`` misuse
    guard."""
    return M.vacuum(
        path, keep_manifests=keep_manifests, min_age_seconds=min_age_seconds
    )


def load_lex_index(
    spark: SparkSession, path: str, *, version: int | None = None
) -> LexIndex:
    """Handle over the stored index. The manifest read here PINS the
    snapshot — the returned DataFrames name immutable generation
    directories, so concurrent appends, compactions, deletes, and
    whole-store rebuilds committing later never change what this
    handle serves (until a vacuum reclaims generations older than its
    manifest). ``version`` TIME-TRAVELS to that exact committed
    snapshot (still retained by vacuum's keep-window) — e.g. serve the
    pre-delete index for an audit, or diff top-k across versions."""
    snap = M.read_manifest(path, version)
    meta = _read_meta(snap, path, "lex")
    tables = {
        t: _read_table(spark, path, t, snap)
        for t in ("postings", "terms", "tombstones")
    }
    return LexIndex(
        meta=meta,
        postings=(
            tables["postings"]
            if tables["postings"] is not None
            else spark.createDataFrame([], meta["postings_schema"])
        ),
        terms=(
            tables["terms"]
            if tables["terms"] is not None
            else spark.createDataFrame([], meta["terms_schema"])
        ),
        tombstones=tables["tombstones"],
    )


def lex_index_topk(
    index: LexIndex,
    queries: DataFrame,
    *,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    exclude_self: bool = False,
    min_df_prune: int | None = None,
) -> DataFrame:
    """Top-``k`` BM25 per query, served from the stored index.

    ``queries`` is (query_id, term) like :func:`retrieval.bm25_topk`.
    The probe collects the query vocabulary's DISTINCT BUCKETS (a
    query-vocab-sized driver list) and filters both stored tables on
    them — a parquet partition-pruned scan — then broadcast-joins the
    query terms. Scoring is the identical BM25 tail as the inline
    operator (same rounding, same tie-break), with ``n_docs``/``avgdl``
    taken exactly from the incrementally-maintained metadata.

    ``min_df_prune`` drops query terms whose stored df exceeds
    ``n_docs / min_df_prune`` — the standard stop-list cut that keeps a
    'the'-bearing query from dragging the full corpus postings list
    through the score aggregation (idf already ≈0 for such terms).
    """
    meta = index.meta
    n_docs = int(meta["n_docs"])
    avgdl = meta["sum_dl"] / n_docs if n_docs else 0.0
    nb = meta["n_buckets"]

    qterms = (
        queries.select("query_id", "term")
        .distinct()
        .withColumn("bucket", _bucket(F.col("term"), nb))
        .localCheckpoint(eager=False)
    )
    buckets = [
        r["bucket"] for r in qterms.select("bucket").distinct().collect()
    ]
    if not buckets:
        # empty-result schema inherits doc_id's type from the stored
        # postings (string-id corpora would otherwise get a BIGINT
        # column here and their real type on the normal path).
        doc_id_type = index.postings.schema["doc_id"].dataType
        return qterms.select(
            "query_id",
            F.lit(None).cast(doc_id_type).alias("doc_id"),
            F.lit(0.0).alias("bm25"),
            F.lit(0).alias("rank"),
        ).where(F.lit(False))

    # partition-pruned stats: df deltas summed per term (append never
    # rewrites), then idf from the exact metadata counts.
    dfs = (
        index.terms.where(F.col("bucket").isin(buckets))
        .join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    if min_df_prune is not None:
        dfs = dfs.where(F.col("df") <= F.lit(n_docs / min_df_prune))
    probe = qterms.join(
        F.broadcast(
            dfs.select(
                "term",
                F.log(
                    F.lit(1.0)
                    + (F.lit(float(n_docs)) - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                ).alias("idf"),
            )
        ),
        "term",
    )
    matched = index.postings.where(F.col("bucket").isin(buckets)).join(
        F.broadcast(probe), "term"
    )
    if index.tombstones is not None:
        # deleted-ids mask (delete_from_lex_index): deleted-ids-sized,
        # broadcast; the negative df deltas already corrected the
        # stats side, this masks the candidate set — re-appended ids
        # serve their NEW rows (_mask_tombstoned).
        matched = _mask_tombstoned(matched, index.tombstones)
    if exclude_self:
        matched = matched.where(F.col("doc_id") != F.col("query_id"))
    contrib = F.col("idf") * (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
    )
    scored = (
        matched.select("query_id", "doc_id", contrib.alias("contrib"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("bm25"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "bm25", "rank")
    )
