"""One-call corpus maintenance — the cron job as a function.

A corpus snapshot store accumulates commits; its registered consumer
indexes (:mod:`.sync` records them under ``corpus-sync:<index path>``
in the corpus meta) lag behind; generations fragment; ANN codebooks
drift; manifest logs grow. Each concern has a policy primitive built
in rounds 11–13 — this module composes them into the single
maintenance pass an operator schedules:

1. DISCOVER the consumer indexes from the corpus's own registry
   (:func:`..sources.corpusstore.registered_sync_cursors`) — no
   side-channel inventory to keep in sync;
2. SYNC each index from the commit log (O(Δ); lex or ANN auto-detected
   from the index meta), applying ``compact_over`` fragmentation
   bounds and the ANN ``rebuild_over`` drift-triggered refresh;
3. COMPACT the corpus itself past ``compact_over`` files/partition;
4. CHECKPOINT each manifest log so the audit trail survives file
   reclamation, then VACUUM — the corpus vacuum is consumer-aware by
   default (a consumer this pass somehow missed still blocks it).

Non-index stores ride the same pass: a registered consumer (or an
``extra_stores`` entry) whose meta identifies a streaming-linker state
store (``kind="linkage-state"``), another corpus snapshot
(``kind="corpus"``), or a manifest-layout domain edge store
(:func:`..operators.graph.init_edge_store` — the continuous-crawl link
graph) gets the compact/checkpoint/vacuum treatment instead of a sync.

Dead consumers are never silently unregistered, but they are no longer
silently CHEAP either: each one's retention pin (manifests/bytes the
consumer-aware vacuum must keep for it alone —
:func:`..sources.corpusstore.consumer_pin_cost`) is quantified in the
report, and an explicit ``retire=[paths]`` opt-in drops the
registration (freeing the pin at the next vacuum — which this same
pass then runs).

Every step is the library primitive, not a reimplementation; a step
that raises aborts the pass loudly (partial maintenance is safe — all
steps are independently idempotent and crash-safe by the underlying
protocol). Returns a report dict per store.

No reference analogue; the composition mirrors what a Delta/Iceberg
shop schedules as OPTIMIZE + VACUUM + MV refresh jobs.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

from ..sources import corpusstore as C
from . import annindex as A
from . import lexindex as L
from . import manifestfs as M
from .sync import sync_ann_index, sync_lex_index

__all__ = ["maintain_corpus"]


def _index_kind(path: str) -> str | None:
    """'lex' / 'ann' / 'linkage' (streaming-linker state) / 'corpus'
    (a corpus snapshot store) / 'edges' (a manifest-layout domain edge
    store, :func:`..operators.graph.init_edge_store`) from the store's
    meta; None when the path no longer holds a readable store (a
    retired consumer whose store was deleted without
    :func:`..sources.corpusstore.unregister_corpus_consumer`)."""
    try:
        meta = M.read_manifest(path)["meta"]
    except FileNotFoundError:
        return None
    if meta.get("kind") == "linkage-state":
        return "linkage"
    if meta.get("kind") == "corpus":
        return "corpus"
    if "edges_schema" in meta:
        return "edges"
    if "text_col" in meta:
        return "lex"
    if "vec_col" in meta:
        return "ann"
    return None


def _maintain_store(
    spark: SparkSession,
    path: str,
    kind: str,
    *,
    compact_over: int,
    keep_versions: int,
    min_age_seconds: float,
    checkpoint: bool,
) -> dict:
    """Compaction + checkpoint + vacuum for one NON-SYNCED store — the
    linker-state / standalone-store leg of the pass. Each step is the
    store-kind's own primitive; the linker state has nothing to compact
    (every batch replaces the whole table, so there is exactly one live
    generation)."""
    out: dict = {"kind": kind}
    if kind == "corpus":
        out["compacted"] = C.compact_corpus_snapshot(
            spark, path, max_files_per_partition=compact_over
        )
    elif kind == "lex":
        out["compacted"] = L.compact_lex_index(
            spark, path, max_files_per_bucket=compact_over
        )
    elif kind == "ann":
        out["compacted"] = A.compact_ann_index(
            spark, path, max_files_per_cell=compact_over
        )
    elif kind == "edges":
        from . import graph as G

        out["compacted"] = G.compact_edge_store(
            spark, path, max_files_per_bucket=compact_over
        )
        # ops signal only — maintenance never touches ranks (they
        # refresh via graph.refresh_pagerank): report whether the
        # committed vector still describes the edge state a reader
        # serves NOW. Compaction re-fingerprints a vector that was
        # current at swap time (logical edges identical), so a nightly
        # compact on a quiet graph keeps current=True; only real edge
        # deltas (appends/takedowns) mark it stale.
        snap = M.read_manifest(path)
        for vec in ("ranks", "hits"):
            vk = snap["meta"].get(vec)
            if vk is not None:
                out[vec] = {
                    "at_version": vk.get("at_version"),
                    "current": vk.get("edge_state")
                    == G._edge_state_key(snap),
                }
    if checkpoint:
        M.checkpoint_manifest_log(path)
    if kind == "corpus":
        out["vacuum"] = C.vacuum_corpus_snapshot(
            path,
            keep_manifests=keep_versions,
            min_age_seconds=min_age_seconds,
        )
    else:
        out["vacuum"] = M.vacuum(
            path,
            keep_manifests=keep_versions,
            min_age_seconds=min_age_seconds,
        )
    return out


def maintain_corpus(
    spark: SparkSession,
    corpus_path: str,
    *,
    compact_over: int = 8,
    rebuild_over: float | None = None,
    keep_versions: int = 2,
    min_age_seconds: float = 3600.0,
    checkpoint: bool = True,
    retire: list[str] | str | None = None,
    extra_stores: list[str] | None = None,
) -> dict:
    """Run the full maintenance pass over ``corpus_path`` and every
    consumer index its registry names. Parameters map 1:1 onto the
    underlying policies: ``compact_over`` (files per partition/bucket/
    cell before compaction, corpus and indexes alike), ``rebuild_over``
    (ANN drift threshold — None disables the refresh),
    ``keep_versions``/``min_age_seconds`` (the shared vacuum retention;
    the corpus vacuum additionally floors at the registered cursors),
    ``checkpoint`` (write a manifest-log checkpoint before each vacuum
    so history survives the reclamation).

    ``retire`` opts specific DEAD consumers (paths whose store is
    gone) into retirement: their registration — which IS their txn
    token in the corpus meta — is dropped
    (:func:`..sources.corpusstore.unregister_corpus_consumer`), so the
    vacuum this same pass runs can reclaim what they pinned. A path
    listed in ``retire`` whose store is still readable is NOT retired
    (``report["retire_refused"]`` + a UserWarning) — retiring a live
    consumer is a contract violation. ``retire="dead"`` retires
    exactly the consumers THIS pass proves dead (store unreadable) —
    the report-driven ergonomic form: no re-typing the paths the last
    report listed under ``skipped``; live consumers are untouchable by
    construction. Dead consumers NOT retired stay registered, but the
    report quantifies what each one pins
    (:func:`..sources.corpusstore.consumer_pin_cost`).

    ``extra_stores`` appends stores the registry does not name — most
    usefully a streaming linker's state store
    (:class:`..streaming.linkage.StreamingLinker`), which gets
    checkpoint + vacuum; another corpus snapshot store gets compaction
    + checkpoint + vacuum.
    A manifest-layout edge store (:func:`.graph.edge_store_sink` —
    its feed is the crawl stream, not this corpus, so it is never a
    registered consumer) gets compaction + checkpoint + vacuum too;
    its ranks are a derived product (:func:`.graph.refresh_pagerank`;
    optionally persisted in the same store via
    :func:`.graph.commit_ranks`, where the shared vacuum already
    reclaims superseded rank generations), so maintenance never needs
    to touch them. Lex/ANN paths here get the same
    compact/checkpoint/vacuum pass WITHOUT a sync (they are not this
    corpus's consumers).

    Returns ``{"synced": {index: sync-result}, "skipped": [paths whose
    store is gone — retire them], "dead": {path: pin-cost},
    "retired": [paths], "retire_refused": [live paths refused],
    "maintained": {path: report},
    "corpus": {"compacted": ..., "vacuum": ...},
    "index_vacuum": {index: ...}}``."""
    report: dict = {
        "synced": {},
        "skipped": [],
        "dead": {},
        "retired": [],
        "retire_refused": [],
        "maintained": {},
        "index_vacuum": {},
    }
    if isinstance(retire, str) and retire != "dead":
        raise ValueError(
            f"retire must be a list of paths, 'dead', or None, got {retire!r}"
        )
    retire_dead = retire == "dead"
    retire_set = (
        set()
        if retire_dead or retire is None
        else {os.path.abspath(M.local_path(p)) for p in retire}
    )
    prefix = "corpus-sync:"
    for key in sorted(C.registered_sync_cursors(corpus_path)):
        idx = key[len(prefix):]
        kind = _index_kind(idx)
        if kind is None:
            # retired consumer with a dead store: quantify what its
            # registration pins; drop it only on the explicit retire
            # opt-in — silent unregistration would un-protect a store
            # that is merely unreachable right now
            report["skipped"].append(idx)
            try:
                report["dead"][idx] = C.consumer_pin_cost(
                    corpus_path, key, keep_manifests=keep_versions
                )
            except (KeyError, FileNotFoundError):
                report["dead"][idx] = None
            if retire_dead or idx in retire_set:
                C.unregister_corpus_consumer(corpus_path, key)
                report["retired"].append(idx)
            continue
        if idx in retire_set:
            # the path resolves to a LIVE consumer: refuse, loudly —
            # dropping its registration would let this same pass's
            # vacuum reclaim generations it still reads
            report["retire_refused"].append(idx)
            warnings.warn(
                f"maintain_corpus: refusing to retire {idx!r} — its "
                "store is alive (readable); retiring a live consumer "
                "would un-pin generations it still reads. Remove the "
                "store first, or drop it from retire=.",
                UserWarning,
                stacklevel=2,
            )
        if kind in ("linkage", "corpus"):
            # a linker-state (or nested-corpus) consumer: no sync to
            # run — it is not an index over this corpus — but it still
            # gets the maintenance tier
            report["maintained"][idx] = _maintain_store(
                spark, idx, kind,
                compact_over=compact_over, keep_versions=keep_versions,
                min_age_seconds=min_age_seconds, checkpoint=checkpoint,
            )
            continue
        if kind == "lex":
            out = sync_lex_index(
                spark, corpus_path, idx, compact_over=compact_over
            )
        else:
            out = sync_ann_index(
                spark, corpus_path, idx,
                rebuild_over=rebuild_over, compact_over=compact_over,
            )
        report["synced"][idx] = out
        if checkpoint:
            M.checkpoint_manifest_log(idx)
        report["index_vacuum"][idx] = M.vacuum(
            idx,
            keep_manifests=keep_versions,
            min_age_seconds=min_age_seconds,
        )
    for path in extra_stores or []:
        kind = _index_kind(path)
        if kind is None:
            report["skipped"].append(path)
            continue
        report["maintained"][path] = _maintain_store(
            spark, path, kind,
            compact_over=compact_over, keep_versions=keep_versions,
            min_age_seconds=min_age_seconds, checkpoint=checkpoint,
        )
    compacted = C.compact_corpus_snapshot(
        spark, corpus_path, max_files_per_partition=compact_over
    )
    if checkpoint:
        M.checkpoint_manifest_log(corpus_path)
    vac = C.vacuum_corpus_snapshot(
        corpus_path,
        keep_manifests=keep_versions,
        min_age_seconds=min_age_seconds,
    )
    report["corpus"] = {"compacted": compacted, "vacuum": vac}
    return report
