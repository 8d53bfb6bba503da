"""Streaming entity resolution: maintain a cluster table continuously as
record batches arrive (Structured Streaming ``foreachBatch`` +
contraction-based incremental clustering).

The reference has no streaming surface at all (SURVEY §2.12); this is the
green-field extension the 100 TB pipeline actually needs: the clustered
base is a long-lived asset, each micro-batch does delta-sized work
(:mod:`auto_data_linkage_spark.incremental`), and the state is versioned
so replays are idempotent.

State layouts — both are manifest-committed stores
(:mod:`..operators.manifestfs`), like the persisted indexes and the
corpus snapshot store; the layout is chosen at first use and
auto-detected afterwards:

- ``layout="manifest"`` (default): the cluster table lives in a
  manifest-committed store (:mod:`..operators.manifestfs`). Each batch
  writes the new snapshot into a fresh immutable ``gen=N`` directory
  and commits ONE manifest that atomically (a) replaces the table's
  live generation and (b) records the ``(app_id, batch_id)``
  idempotence token — so a batch replayed after a crash between the
  commit and the stream-checkpoint advance is recognized by its token
  and skipped outright: exactly-once, with zero renames and zero
  overwrites (object-store safe). ``version=`` time travel replays any
  retained snapshot bit-exactly, and reclamation is the shared
  :func:`..operators.manifestfs.vacuum` policy (``keep_versions`` +
  age floor) instead of ad-hoc directory pruning.
- ``layout="merge"`` (the 100 TB write path): the cluster table lives
  in a CORPUS SNAPSHOT store (:mod:`..sources.corpusstore`) keyed by
  ``unique_id`` and hash-partitioned into ``n_buckets``; each batch
  UPSERTS only the CHANGED assignments — the batch's new rows plus the
  base rows whose cluster was merged (both delta-sized, straight from
  :class:`..incremental.Increment`) — so the per-batch write is
  O(touched partitions), never O(cluster table). Exactly-once via the
  same token (recorded atomically in the v1 build for batch 0 and in
  every upsert commit after); ``version=`` time travel and the shared
  vacuum apply unchanged. Untouched buckets' files keep serving
  byte-identically across batches (tested).

State written by older versions in the retired ``rename`` layout (one
``batch=<id>/`` snapshot directory per micro-batch) is refused with a
``ValueError``; start the linker on a new ``state_dir``.

``app_id`` identifies the streaming query's checkpoint lineage
(:func:`..operators.manifestfs.txn_version`): restarting from a NEW
checkpoint directory resets batch ids to 0, so it must use a new
app_id against the same state store.

Scale shape: each batch COMMITS the full cluster table as one new
generation (state is a snapshot, so retained history costs
O(cluster table) per retained version — size ``retain_versions`` and
``vacuum_age_seconds`` accordingly). The per-batch COMPUTE is already
delta-sized (:func:`..incremental.incremental_assign` contracts the
base to super-nodes); at true 100 TB scale swap the snapshot write
for a key-granular MERGE of only the changed assignments — the
assignment/merge DataFrames this module produces are exactly that
merge's input, so only the write step changes (the corpus snapshot
store's ``upsert_corpus_snapshot`` is the in-repo seam for it).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auto_data_linkage_spark.cluster import cluster_at_threshold
from auto_data_linkage_spark.incremental import (
    apply_increment,
    incremental_assign,
    require_new_ids,
)
from auto_data_linkage_spark.operators import manifestfs as M
from auto_data_linkage_spark.sources import corpusstore as C

_TABLE = "clusters"
_BUCKET = "__bucket"


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
        layout: str = "manifest",
        app_id: str = "linker",
        vacuum_age_seconds: float = 3600.0,
        n_buckets: int = 16,
    ):
        if layout not in ("manifest", "merge"):
            raise ValueError(
                f"layout must be 'manifest' or 'merge', got {layout!r}"
            )
        self.model = model
        self.state_dir = state_dir
        self.threshold = threshold
        self.unique_id = unique_id
        self.layout = layout
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
        # merge layout: hash-partition count of the cluster table —
        # the upsert's rewrite unit. A delta of B changed rows touches
        # min(B, N) buckets and rewrites that fraction of the state,
        # so the write win REQUIRES B ≪ n_buckets (measured: a dense
        # delta rewrites every bucket and pays parquet per-file
        # overhead on top — SCALE.md round-13 table). Size n_buckets
        # well above the typical per-batch changed-row count, or stay
        # on the snapshot layout. Saturation is DETECTED at runtime:
        # every merge batch records changed_rows/buckets_touched in
        # ``last_batch_report`` and a batch whose changed rows reach
        # n_buckets sets ``delta_saturates_buckets`` and warns — the
        # measured 2.6× write regression can no longer pass silently.
        self.n_buckets = int(n_buckets)
        # per-batch observability: set by process_batch on every
        # applied batch (None before the first, unchanged on a
        # token-skipped replay) — see _process_batch_merge
        self.last_batch_report: dict | None = None

    # ---------------------------------------------------------- layout
    def _mode(self) -> str:
        """Existing stores auto-detect their layout; a fresh state_dir
        follows the constructor's ``layout``. A merge-layout store is a
        corpus snapshot (meta kind="corpus"); the snapshot-per-batch
        manifest store carries kind="linkage-state". A state_dir left
        by the retired rename layout raises ``ValueError``."""
        if M.is_manifest_store(self.state_dir):
            meta = M.read_manifest(self.state_dir)["meta"]
            return "merge" if meta.get("kind") == "corpus" else "manifest"
        M.reject_legacy_store(self.state_dir)
        return self.layout

    def _bucketed(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            _BUCKET,
            F.pmod(F.xxhash64(F.col(self.unique_id)), F.lit(self.n_buckets)),
        )

    # ----------------------------------------------------- public state
    def current_clusters(
        self, spark: SparkSession, *, version: int | None = None
    ) -> DataFrame | None:
        """Latest cluster-table snapshot, or None before the first batch.
        ``version=`` pins a retained historical manifest version — the
        pre-merge state for an audit, the pre-batch state for a diff —
        served bit-exactly."""
        if self._mode() == "merge":
            try:
                return C.load_corpus_snapshot(
                    spark, self.state_dir, version=version
                ).drop(_BUCKET)
            except FileNotFoundError:
                if version is not None:
                    raise
                return None
        try:
            snap = M.read_manifest(self.state_dir, version=version)
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
        :func:`..operators.manifestfs.vacuum` policy, identical for the
        snapshot and merge layouts."""
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
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: fold one micro-batch into the cluster state."""
        if self._mode() == "merge":
            return self._process_batch_merge(batch_df, batch_id)
        return self._process_batch_manifest(batch_df, batch_id)

    def _fold(self, base, batch_df: DataFrame, uid: str) -> DataFrame:
        if base is None:
            scored = self.model.predict(batch_df)
            return cluster_at_threshold(
                batch_df, scored, self.threshold, unique_id=uid
            )
        require_new_ids(batch_df, base, unique_id=uid)
        inc = incremental_assign(
            self.model, base, batch_df,
            threshold=self.threshold, unique_id=uid,
        )
        # ids keep their native type end-to-end: cluster_at_threshold
        # and incremental_assign both label components by the same typed
        # minimum, so every snapshot has one stable schema and numeric
        # ids never fall into lexicographic ordering
        return apply_increment(base, batch_df, inc, unique_id=uid)

    def _process_batch_manifest(
        self, batch_df: DataFrame, batch_id: int
    ) -> None:
        """One micro-batch on the manifest seam: read the pinned head,
        fold, write the new snapshot into a fresh generation, commit
        snapshot + token atomically. A replayed batch id is skipped by
        its token BEFORE any data work (exactly-once); a crash before
        the commit leaves nothing visible, so the replay re-runs
        cleanly and the orphan generation is vacuumable."""
        spark = batch_df.sparkSession
        try:
            snap = M.read_manifest(self.state_dir)
        except FileNotFoundError:
            # lazy init: v1 is the empty state, so the first data batch
            # is an ordinary versioned commit like every later one
            os.makedirs(M.local_path(self.state_dir), exist_ok=True)
            snap = M.init_manifest_store(
                self.state_dir,
                tables={},
                meta={"kind": "linkage-state", "unique_id": self.unique_id},
                op="init",
            )
        meta = snap["meta"]
        if M.txn_version(meta, self.app_id) >= int(batch_id):
            return  # batch already committed: a checkpoint replay
        if batch_df.isEmpty():
            return
        base = M.read_table(spark, self.state_dir, _TABLE, snap)
        clustered = self._fold(base, batch_df, self.unique_id)
        gen = M.next_gen(self.state_dir, _TABLE)
        clustered.write.parquet(
            os.path.join(M.local_path(self.state_dir), _TABLE, gen)
        )
        # whole-table replace: the snapshot IS the state, so the commit
        # content depends on the snapshot it read — loud conflict on a
        # lost version race (single maintenance writer per state store,
        # the same contract as compaction), never a blind merge.
        M.commit_manifest(
            self.state_dir,
            tables={_TABLE: {"": [gen]}},
            meta=M.with_txn(meta, (self.app_id, int(batch_id))),
            expected_version=snap["version"],
            op="linkage-batch",
        )
        self.last_batch_report = {
            "mode": "manifest", "batch_id": int(batch_id),
            "action": "snapshot",
        }
        # per-batch retention policy: reclaim superseded snapshots past
        # the age floor (never the one just committed; a pinned reader
        # inside the floor keeps everything it can name)
        self.vacuum()

    def _process_batch_merge(self, batch_df: DataFrame, batch_id: int) -> None:
        """One micro-batch on the MERGE seam: the state is a corpus
        snapshot keyed by ``unique_id``; only the CHANGED assignments
        are written — the batch's rows (with their cluster ids) plus
        the base rows whose cluster a merge relabeled, both delta-sized
        straight from the :class:`..incremental.Increment`. The upsert
        rewrites only the buckets the delta touches; everything else
        keeps serving byte-identically. Exactly-once: the token rides
        the v1 build (batch 0) / the upsert commit (later batches)."""
        spark = batch_df.sparkSession
        uid = self.unique_id
        initialized = M.is_manifest_store(self.state_dir)
        if initialized and M.txn_version(
            M.read_manifest(self.state_dir)["meta"], self.app_id
        ) >= int(batch_id):
            return  # batch already committed: a checkpoint replay
        if batch_df.isEmpty():
            return
        if not initialized:
            scored = self.model.predict(batch_df)
            clustered = cluster_at_threshold(
                batch_df, scored, self.threshold, unique_id=uid
            )
            C.build_corpus_snapshot(
                self._bucketed(clustered), self.state_dir, key=uid,
                partition_by=[_BUCKET],
                txn=(self.app_id, int(batch_id)),
            )
            self.last_batch_report = {
                "mode": "merge",
                "batch_id": int(batch_id),
                "action": "build",
                "n_buckets": self.n_buckets,
            }
            return
        base = C.load_corpus_snapshot(spark, self.state_dir).drop(_BUCKET)
        require_new_ids(batch_df, base, unique_id=uid)
        inc = incremental_assign(
            self.model, base, batch_df,
            threshold=self.threshold, unique_id=uid,
        )
        # base rows whose cluster merged (relabel to the new id) ...
        relabeled = (
            base.join(
                F.broadcast(
                    inc.merges.withColumnRenamed(
                        "old_cluster_id", "cluster_id"
                    )
                ),
                "cluster_id",
                "inner",
            )
            .withColumn("cluster_id", F.col("new_cluster_id"))
            .drop("new_cluster_id")
        )
        # ... plus the batch with its assignments: the full changed set
        batch_rows = batch_df.join(inc.assignments, uid, "left")
        delta = relabeled.select(*base.columns).unionByName(
            batch_rows.select(*base.columns)
        )
        # materialize the delta ONCE (it feeds both the saturation
        # accounting and the upsert — without the checkpoint the whole
        # incremental_assign chain would run twice)
        bucketed = self._bucketed(delta).localCheckpoint(eager=True)
        n_changed, n_touched = bucketed.agg(
            F.count("*"), F.count_distinct(F.col(_BUCKET))
        ).first()
        C.upsert_corpus_snapshot(
            spark, self.state_dir, bucketed,
            txn=(self.app_id, int(batch_id)),
        )
        # bucket-saturation guard (SCALE.md r13: a delta with changed
        # rows ≥ n_buckets rewrites every bucket and measured 2.6× MORE
        # bytes than a plain snapshot) — surfaced per batch, loud when
        # it happens, so mis-sized n_buckets is an observable event,
        # not a silent write regression
        saturated = int(n_changed) >= self.n_buckets
        self.last_batch_report = {
            "mode": "merge",
            "batch_id": int(batch_id),
            "action": "upsert",
            "changed_rows": int(n_changed),
            "buckets_touched": int(n_touched),
            "n_buckets": self.n_buckets,
            "delta_saturates_buckets": saturated,
        }
        if saturated:
            import warnings

            warnings.warn(
                f"merge-layout batch {batch_id}: {n_changed} changed "
                f"rows over {self.n_buckets} buckets touched "
                f"{n_touched} — the delta saturates the bucket layout, "
                "so this upsert rewrites (nearly) the whole state and "
                "writes MORE bytes than a snapshot commit would. Size "
                "n_buckets well above the per-batch changed-row count "
                "(SCALE.md merge-layout table) or use "
                "layout='manifest'.",
                stacklevel=2,
            )
        self.vacuum()

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
