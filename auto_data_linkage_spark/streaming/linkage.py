"""Streaming entity resolution: maintain a cluster table continuously as
record batches arrive (Structured Streaming ``foreachBatch`` +
contraction-based incremental clustering).

The reference has no streaming surface at all (SURVEY §2.12); this is the
green-field extension the 100 TB pipeline actually needs: the clustered
base is a long-lived asset, each micro-batch does delta-sized work
(:mod:`auto_data_linkage_spark.incremental`), and the state is versioned
so replays are idempotent.

State layout: the cluster table lives in a manifest-committed store
(:mod:`..operators.manifestfs`, meta ``kind="linkage-state"``), like
the persisted indexes and the corpus snapshot store. Each batch writes
the new snapshot into a fresh immutable ``gen=N`` directory and
commits ONE manifest that atomically (a) replaces the table's live
generation and (b) records the ``(app_id, batch_id)`` idempotence
token — so a batch replayed after a crash between the commit and the
stream-checkpoint advance is recognized by its token and skipped
outright: exactly-once, with zero renames and zero overwrites (object-
store safe). ``version=`` time travel replays any retained snapshot
bit-exactly, and reclamation is the shared
:func:`..operators.manifestfs.vacuum` policy (``keep_versions`` + age
floor).

State written by older versions in a retired layout is refused with a
``ValueError`` before any read or write: the ``rename`` layout (one
``batch=<id>/`` snapshot directory per micro-batch) and the bucketed
upsert layout (the cluster table kept in a corpus snapshot store, meta
``kind="corpus"``). Start the linker on a new ``state_dir``.

``app_id`` identifies the streaming query's checkpoint lineage
(:func:`..operators.manifestfs.txn_version`): restarting from a NEW
checkpoint directory resets batch ids to 0, so it must use a new
app_id against the same state store.

Scale shape: the per-batch COMPUTE is delta-sized
(:func:`..incremental.incremental_assign` contracts the base to
super-nodes), and the per-batch WRITE is O(cluster table): each batch
commits the full table as one new generation, and every retained
version holds one such copy — size ``retain_versions`` and
``vacuum_age_seconds`` accordingly. A key-granular write of only the
changed assignments was measured as a second layout (an upsert into a
bucketed corpus snapshot) and removed: it was slower in 8 of 9 batch
shapes and wrote fewer bytes only on a sparse 8-row batch (SCALE.md
"One linker state layout"). Row-level upserts at that scale belong to
a transactional table format, not to this store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from auto_data_linkage_spark.cluster import cluster_at_threshold
from auto_data_linkage_spark.incremental import (
    apply_increment,
    incremental_assign,
    require_new_ids,
)
from auto_data_linkage_spark.operators import manifestfs as M

_TABLE = "clusters"
_KIND = "linkage-state"


class StreamingLinker:
    """Continuous dedup/linkage over a stream of records.

    ``model`` is a trained
    :class:`~auto_data_linkage_spark.model.FellegiSunterModel` (set a
    fixed ``prior`` — scoring must not depend on batch size). The first
    batch is clustered outright; every later batch folds in via
    incremental assignment. ``current_clusters`` exposes the latest state
    (or any retained historical ``version=``).
    """

    def __init__(
        self,
        model,
        state_dir: str,
        *,
        threshold: float = 0.8,
        unique_id: str = "unique_id",
        retain_versions: int = 3,
        app_id: str = "linker",
        vacuum_age_seconds: float = 3600.0,
    ):
        self.model = model
        self.state_dir = state_dir
        self.threshold = threshold
        self.unique_id = unique_id
        self.app_id = app_id
        # manifest versions to keep. The token skips replays outright,
        # so retain_versions only buys time travel — floored at 2 so
        # the pre-batch snapshot stays readable for concurrent readers.
        self.retain_versions = max(2, retain_versions)
        # the shared vacuum safety floor: a generation or manifest
        # younger than this is never reclaimed by the per-batch vacuum
        # (a concurrent reader may be pinned to it); 0 = immediate,
        # only when no reader/writer can be in flight.
        self.vacuum_age_seconds = vacuum_age_seconds

    def _read_state(self, version: int | None = None) -> dict:
        """The state store's manifest (the head, or ``version=``).
        ``FileNotFoundError`` when there is none yet; ``ValueError``
        when ``state_dir`` holds a store of a retired layout — the
        rename layout (raised by ``read_manifest``) or the bucketed
        upsert layout, whose state was a corpus snapshot (meta
        ``kind="corpus"``)."""
        snap = M.read_manifest(self.state_dir, version=version)
        kind = snap["meta"].get("kind")
        if kind != _KIND:
            raise ValueError(
                f"{self.state_dir} holds a store of kind {kind!r}, not "
                f"a streaming-linker state (kind={_KIND!r}); the retired "
                "bucketed layout kept its state in a corpus snapshot "
                "store — start the linker on a new state_dir"
            )
        return snap

    # ----------------------------------------------------- public state
    def current_clusters(
        self, spark: SparkSession, *, version: int | None = None
    ) -> DataFrame | None:
        """Latest cluster-table snapshot, or None before the first batch.
        ``version=`` pins a retained historical manifest version — the
        pre-batch state for an audit or a diff — served bit-exactly."""
        try:
            snap = self._read_state(version)
        except FileNotFoundError:
            if version is not None:
                raise
            return None
        return M.read_table(spark, self.state_dir, _TABLE, snap)

    def vacuum(
        self,
        *,
        keep_versions: int | None = None,
        min_age_seconds: float | None = None,
    ) -> dict:
        """Reclaim superseded state: generations and manifests outside
        the last ``keep_versions`` readable manifests and older than
        ``min_age_seconds`` (defaults: the constructor's
        ``retain_versions`` / ``vacuum_age_seconds``) — the shared
        :func:`..operators.manifestfs.vacuum` policy."""
        self._read_state()
        return M.vacuum(
            self.state_dir,
            keep_manifests=(
                self.retain_versions
                if keep_versions is None
                else keep_versions
            ),
            min_age_seconds=(
                self.vacuum_age_seconds
                if min_age_seconds is None
                else min_age_seconds
            ),
        )

    # ------------------------------------------------------------- logic
    def _fold(self, base, batch_df: DataFrame) -> DataFrame:
        uid = self.unique_id
        if base is None:
            scored = self.model.predict(batch_df)
            return cluster_at_threshold(
                batch_df, scored, self.threshold, unique_id=uid
            )
        inc = incremental_assign(
            self.model, base, batch_df,
            threshold=self.threshold, unique_id=uid,
        )
        # ids keep their native type end-to-end: cluster_at_threshold
        # and incremental_assign both label components by the same typed
        # minimum, so every snapshot has one stable schema and numeric
        # ids never fall into lexicographic ordering
        return apply_increment(base, batch_df, inc, unique_id=uid)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: fold one micro-batch into the cluster
        state. Reads the pinned head, folds, writes the new snapshot
        into a fresh generation, and commits snapshot + token
        atomically. A replayed batch id is skipped by its token BEFORE
        any data work (exactly-once); a crash before the commit leaves
        nothing visible, so the replay re-runs cleanly and the orphan
        generation is vacuumable. An empty batch commits nothing. A
        batch that re-sends an id the state holds, or carries one id
        twice, raises ``ValueError`` and commits nothing."""
        spark = batch_df.sparkSession
        try:
            snap = self._read_state()
        except FileNotFoundError:
            # lazy init: v1 is the empty state, so the first data batch
            # is an ordinary versioned commit like every later one
            os.makedirs(M.local_path(self.state_dir), exist_ok=True)
            snap = M.init_manifest_store(
                self.state_dir,
                tables={},
                meta={"kind": _KIND, "unique_id": self.unique_id},
                op="init",
            )
        meta = snap["meta"]
        if M.txn_version(meta, self.app_id) >= int(batch_id):
            return  # batch already committed: a checkpoint replay
        base = M.read_table(spark, self.state_dir, _TABLE, snap)
        if require_new_ids(batch_df, base, unique_id=self.unique_id) == 0:
            return  # an empty batch: nothing to fold or commit
        clustered = self._fold(base, batch_df)
        gen = M.next_gen(self.state_dir, _TABLE)
        clustered.write.parquet(
            os.path.join(M.local_path(self.state_dir), _TABLE, gen)
        )
        # whole-table replace: the snapshot IS the state, so the commit
        # content depends on the snapshot it read — loud conflict on a
        # lost version race (single maintenance writer per state store,
        # the same contract as compaction), never blindly combined.
        M.commit_manifest(
            self.state_dir,
            tables={_TABLE: {"": [gen]}},
            meta=M.with_txn(meta, (self.app_id, int(batch_id))),
            expected_version=snap["version"],
            op="linkage-batch",
        )
        # per-batch retention policy: reclaim superseded snapshots past
        # the age floor (never the one just committed; a pinned reader
        # inside the floor keeps everything it can name)
        M.vacuum(
            self.state_dir,
            keep_manifests=self.retain_versions,
            min_age_seconds=self.vacuum_age_seconds,
        )

    def attach(self, stream_df: DataFrame, checkpoint: str):
        """Start the maintenance query on a streaming DataFrame of records.
        ``availableNow`` drains the backlog then stops — call repeatedly
        with the same checkpoint to process only what's new."""
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
