"""Index synchronization from a corpus snapshot's commit log — the
composition tier: a corpus snapshot (:mod:`..sources.corpusstore`)
evolves by appends/compactions, and the persisted search indexes
(:mod:`.lexindex`, :mod:`.annindex`) follow it INCREMENTALLY,
processing only what each commit added instead of rebuilding from the
corpus (O(Δ) per sync, never O(corpus)).

Per corpus commit, in version order:

- ``build``/``append`` — the commit's added rows (exactly the change
  feed) APPEND to the index;
- ``compact`` — content-preserving, skipped;
- ``upsert`` — the commit replaced whole partitions: the OLD content
  of the changed partitions (time travel to ``v-1``) is DELETED from
  the index by id, then the post-merge content appends. This relies
  on the indexes' sequence-stamp tombstones (rows carry ``__seq``,
  tombstones carry ``as_of_seq``; lexindex._mask_tombstoned): the
  re-appended revision rows are live because they postdate the
  delete's cut.

The sync CURSOR is the index's own ``(app_id, batch_id)`` idempotence
token (app id ``corpus-sync:<corpus path>``, batch id = corpus
version): it commits atomically WITH each applied append, so a sync
that crashes mid-backlog resumes exactly where it stopped and a
replayed append is skipped by its token. No sidecar state anywhere.

Retention: reading commit ``v``'s delta (and, for upserts, the
pre-image) needs manifests ``v-1`` and ``v`` retained. Each sync also
REGISTERS its cursor in the corpus meta (``corpus-sync:<index path>``
— at the start of the run with the current cursor, bumped to head at
the end), and the default
:func:`..sources.corpusstore.vacuum_corpus_snapshot` derives its
retention floor from those registered cursors — so a lagging
registered sync can never lose the history it still needs to a
default vacuum. A vacuum explicitly waived past the floor
(``ignore_consumers=True``) makes the lagging sync raise with the
retention hint (rebuild the index from head in that case); retire
dead indexes with ``unregister_corpus_consumer`` so they stop pinning
the log.

Canonical flows::

    # lexical: start EMPTY, let the feed build it (cursor from v=0)
    build_lex_index(load_corpus_snapshot(spark, c).limit(0), idx)
    sync_lex_index(spark, c, idx)              # ...and per cadence

    # ANN needs training data (codebooks/centroids): build from head
    # version V, then sync with since=V once
    build_ann_index(load_corpus_snapshot(spark, c), idx, n_cells=16)
    sync_ann_index(spark, c, idx, since=V)     # first call
    sync_ann_index(spark, c, idx)              # thereafter

No reference analogue; the public design basis is Delta/Iceberg
change-data-feed driven materialized-view maintenance, re-expressed on
this repo's manifest seam.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..sources import corpusstore as C
from . import annindex as A
from . import lexindex as L
from . import manifestfs as M

__all__ = ["sync_lex_index", "sync_ann_index"]


def _sync_app_id(corpus_path: str) -> str:
    return f"corpus-sync:{os.path.abspath(M.local_path(corpus_path))}"


def _make_cursor_io(index_path: str):
    """(record, read) pair over the index's stored sync token: record
    is a cursor-only commit (skipped when the stored token already
    covers the target version; with_txn is monotone, so a racing
    recorder can never rewind it), read returns the CURRENT stored
    token — re-read per applied commit so an overlapping or retried
    sync can never re-run a commit's delete half (the append half is
    token-guarded inside the index append itself)."""

    def read(app: str) -> int:
        return M.txn_version(M.read_manifest(index_path)["meta"], app)

    def record(app: str, v: int) -> None:
        if read(app) >= v:
            return

        def mutate(fresh: dict):
            return fresh["tables"], M.with_txn(fresh["meta"], (app, v))

        M.commit_with_retry(index_path, mutate, op="sync-cursor")

    return record, read


def _register_consumer(corpus_path: str, index_path: str, version: int) -> None:
    """Record this index's progress in the CORPUS meta under its
    ``corpus-sync:<index path>`` registry key (monotone token commit,
    skipped when already covered). The default
    :func:`..sources.corpusstore.vacuum_corpus_snapshot` derives its
    retention floor from these cursors, so registering at sync START
    (the current cursor) pins the history the run is about to read,
    and the bump at sync END releases it."""
    key = "corpus-sync:" + os.path.abspath(M.local_path(index_path))
    snap = M.read_manifest(corpus_path)
    if M.txn_version(snap["meta"], key) >= int(version):
        return

    def mutate(fresh: dict):
        return fresh["tables"], M.with_txn(fresh["meta"], (key, int(version)))

    M.commit_with_retry(corpus_path, mutate, op="sync-cursor")


def _changed_parts(prev: dict, cur: dict, table: str = "data") -> list[str]:
    pm = prev["tables"].get(table, {})
    cm = cur["tables"].get(table, {})
    return sorted(p for p in set(pm) | set(cm) if pm.get(p) != cm.get(p))


def _old_rows(spark: SparkSession, corpus_path: str, prev: dict, parts):
    """The pre-upsert content of the changed partitions (pinned to the
    ``v-1`` snapshot) — the rows the index must forget."""
    parts = [p for p in parts if p in prev["tables"].get("data", {})]
    if not parts:
        return None
    paths = M.table_paths(corpus_path, "data", prev, parts=parts)
    if not paths:
        return None
    tdir = os.path.join(M.local_path(corpus_path), "data")
    return spark.read.option("basePath", tdir).parquet(*paths).drop("gen")


def _sync(
    spark: SparkSession,
    corpus_path: str,
    index_path: str,
    *,
    since: int | None,
    index_meta: dict,
    append,  # (rows_df, txn) -> None
    delete,  # (ids_df, guard_txn) -> None
    id_col: str,
    cols: list[str],
    kind: str,
    cursor_io,  # (record(app, version), read(app) -> int)
    index_empty: bool,
) -> dict:
    head_snap = M.read_manifest(corpus_path)
    C._check_meta(head_snap["meta"])
    head = int(head_snap["version"])
    app = _sync_app_id(corpus_path)
    record_cursor, read_cursor = cursor_io
    stored = M.txn_version(index_meta, app)
    if since is None and stored < 0 and not index_empty:
        raise ValueError(
            f"this {kind} index is non-empty but has no sync cursor "
            f"for {corpus_path}: a parameterless first sync would "
            "re-apply the corpus from v1 and duplicate every indexed "
            "row — pass since=<the corpus version the index was built "
            "from> on the first call"
        )
    cursor = int(since) if since is not None else stored
    if cursor < 0:
        cursor = 0
    # register (or re-affirm) this consumer in the corpus registry at
    # the CURRENT cursor before reading any history: the default corpus
    # vacuum then retains every manifest this run needs
    _register_consumer(corpus_path, index_path, cursor)
    applied: list[dict] = []
    # the version the recorded cursor may advance to: the LAST non-
    # cursor-only commit seen. Cursor-only commits (sync registrations,
    # consumer retirements — including the one THIS run makes below)
    # change no content; chasing them with the cursor would make every
    # idle sync commit a new registration that the next sync then
    # chases — the log would never quiesce. Leaving them past the
    # cursor is free: re-examined next run, skipped again by op.
    content_head = cursor
    for v in range(cursor + 1, head + 1):
        cur = M.read_manifest(corpus_path, version=v)
        op = cur.get("op") or "unknown"
        if op in ("sync-cursor", "unregister-consumer"):
            continue  # registry bookkeeping, not content — not reported
        content_head = v
        if op == "compact":
            applied.append({"version": v, "op": op, "action": "skipped"})
            continue
        if read_cursor(app) >= v:
            # fast path: already applied by a crashed/overlapping
            # earlier sync whose cursor committed — skip the whole
            # commit. This check alone is NOT the safety argument (an
            # overlapping leader can land its append between this read
            # and our delete): the delete below carries guard_txn, so
            # the token re-check is atomic with the delete's own
            # manifest commit.
            applied.append(
                {"version": v, "op": op, "action": "already-applied"}
            )
            continue
        if op == "upsert":
            prev = M.read_manifest(corpus_path, version=v - 1)
            old = _old_rows(
                spark, corpus_path, prev, _changed_parts(prev, cur)
            )
            if old is not None:
                # forget the replaced partitions' old rows; the
                # post-merge content (including re-appended revised
                # ids) follows as this commit's change-feed append.
                # Idempotent on a crash-retry: already-masked rows
                # count 0 and the re-cut tombstone is harmless.
                # guard_txn=(app, v) makes the cut CONDITIONAL on
                # commit v's append not having landed — an overlapping
                # sync that lost the race can never re-cut tombstones
                # over the leader's re-appended revision rows (the
                # check rides the delete's own commit CAS).
                delete(old.select(id_col), (app, v))
        new = C.corpus_snapshot_changes(
            spark, corpus_path, since=v - 1, until=v
        ).select(*cols)
        append(new, (app, v))
        applied.append({"version": v, "op": op, "action": "applied"})
    # Persist the cursor even when the tail applied nothing (a since=
    # anchor, trailing compactions, empty appends): otherwise the next
    # parameterless sync would fall back to the last APPEND's token and
    # re-apply everything after it — double-appending rows. The record
    # is a tiny cursor-only commit, skipped when a token already
    # covers content_head (so an idle sync commits NOTHING anywhere).
    record_cursor(app, content_head)
    # bump the corpus-side registry to the content head just applied:
    # releases the retention floor the start-of-run registration pinned
    _register_consumer(corpus_path, index_path, content_head)
    return {"applied": applied, "version": head}


def sync_lex_index(
    spark: SparkSession,
    corpus_path: str,
    index_path: str,
    *,
    since: int | None = None,
    compact_over: int | None = None,
) -> dict:
    """Fold corpus snapshot commits since the last sync into the
    lexical index (module docstring for semantics, cursor and crash
    behavior). ``since`` overrides the stored
    cursor for the FIRST sync of an index built from a non-empty
    corpus version.

    ``compact_over`` is the fragmentation policy the sinks already
    carry (``lex_index_sink(compact_over=...)``): every applied commit
    appends one generation per touched bucket, so a long-synced index
    fragments without maintenance — past the threshold (data files per
    bucket), :func:`..operators.lexindex.compact_lex_index` runs after
    the fold and the result carries ``"compacted": True``. Returns
    ``{"applied": [{version, op, action}...], "version": head}``."""
    meta = L.load_lex_index(spark, index_path).meta

    def append(rows, txn):
        L.append_lex_index(rows, index_path, txn=txn)

    def delete(ids, guard_txn):
        L.delete_from_lex_index(spark, index_path, ids, guard_txn=guard_txn)

    out = _sync(
        spark, corpus_path, index_path,
        since=since, index_meta=meta, append=append, delete=delete,
        id_col=meta["id_col"],
        cols=[meta["id_col"], meta["text_col"]],
        kind="lexical",
        cursor_io=_make_cursor_io(index_path),
        index_empty=int(meta.get("n_docs", 0)) == 0,
    )
    out["compacted"] = False
    if compact_over is not None:
        rep = L.compact_lex_index(
            spark, index_path, max_files_per_bucket=compact_over
        )
        out["compacted"] = rep.get("buckets_rewritten", 0) > 0
    return out


def sync_ann_index(
    spark: SparkSession,
    corpus_path: str,
    index_path: str,
    *,
    since: int | None = None,
    rebuild_over: float | None = None,
    compact_over: int | None = None,
) -> dict:
    """ANN twin of :func:`sync_lex_index`: corpus commits fold into
    the persisted ANN index (appends encode with the STORED
    codebooks/centroids — the standard IVF practice; rebuild when the
    embedding distribution drifts). The index must be built from a
    known corpus version first (codebooks need training data) and the
    FIRST sync passes ``since=`` that version.

    ``rebuild_over`` is the drift-triggered refresh policy, mirroring
    the sinks' ``compact_over``: after the commits fold in, the
    appended-generation drift (:func:`..operators.annindex.ann_drift`
    — the max of the PQ quantization signal and the codec-independent
    ROUTING signal, each the build-time baseline minus the
    row-weighted measure of everything appended since) is surfaced in
    the result as ``drift``, and when it exceeds the threshold the
    index is REBUILT from the synced corpus head (codebooks/centroids
    re-trained on the current distribution — the recall-restoring
    refresh) with the sync cursor re-anchored at that head. EVERY
    codec gets the refresh loop: SQ8 codes are self-contained (no
    quantization signal), but their IVF cell routing still uses
    build-time centroids, so the routing signal trips the rebuild
    when the distribution shifts.

    ``compact_over`` mirrors :func:`sync_lex_index`'s fragmentation
    policy (files per cell → :func:`..operators.annindex.
    compact_ann_index`); skipped when a rebuild already rewrote the
    store this call. Returns
    ``{"applied": [...], "version": head, "drift": float|None,
    "rebuilt": bool, "compacted": bool}``."""
    meta = A.load_ann_index(spark, index_path).meta
    cols = [meta["id_col"], meta["vec_col"]]
    cell = meta.get("cell_col")
    if cell and cell != "__cell":
        # label-routed index: the corpus rows carry the cell column
        # (learned-cells indexes route appends to the nearest stored
        # centroid instead)
        cols.append(cell)

    def append(rows, txn):
        A.append_ann_index(rows, index_path, txn=txn)

    def delete(ids, guard_txn):
        A.delete_from_ann_index(spark, index_path, ids, guard_txn=guard_txn)

    cursor_io = _make_cursor_io(index_path)
    out = _sync(
        spark, corpus_path, index_path,
        since=since, index_meta=meta, append=append, delete=delete,
        id_col=meta["id_col"],
        cols=cols,
        kind="ANN",
        cursor_io=cursor_io,
        index_empty=int(meta.get("n_rows", 0)) == 0,
    )
    meta2 = A.load_ann_index(spark, index_path).meta
    drift = A.ann_drift(meta2)
    out["drift"] = drift
    out["rebuilt"] = False
    if rebuild_over is not None and drift is not None and drift > rebuild_over:
        head = int(out["version"])
        # rebuild from the SAME corpus version the sync just applied
        # (a commit landing after the sync must not leak in unsynced),
        # re-training codebooks/centroids on the drifted distribution
        corpus_head = C.load_corpus_snapshot(
            spark, corpus_path, version=head
        ).select(*cols)
        kw = {
            "m": int(meta2["m"]),
            "n_codewords": int(meta2["n_codewords"]),
            "vec_col": meta2["vec_col"],
            "id_col": meta2["id_col"],
            "codec": meta2.get("codec", "pq"),
        }
        if meta2.get("cell_col") == "__cell":
            kw["n_cells"] = int(meta2["n_cells"])
        else:
            kw["cell_col"] = meta2["cell_col"]
        A.rebuild_ann_index(corpus_head, index_path, **kw)
        # the rebuild reset the metadata (tokens included): re-anchor
        # the cursor at the head the rebuild reflects, so the next
        # parameterless sync resumes from there
        record_cursor, _ = cursor_io
        record_cursor(_sync_app_id(corpus_path), head)
        out["rebuilt"] = True
    out["compacted"] = False
    if compact_over is not None and not out["rebuilt"]:
        rep = A.compact_ann_index(
            spark, index_path, max_files_per_cell=compact_over
        )
        out["compacted"] = rep.get("cells_rewritten", 0) > 0
    return out
