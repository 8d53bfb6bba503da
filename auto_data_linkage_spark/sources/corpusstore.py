"""Manifest-layout corpus snapshots — the corpus store, on the ONE
commit protocol every persisted store uses
(:mod:`..operators.manifestfs`).

A corpus that changes after its first write lives here:

- an upsert writes the merged rows of the touched partitions into a
  fresh immutable ``data/gen=N`` directory and publishes them by ONE
  conditional manifest commit — observed fully-old or fully-new,
  never mixed; a crashed writer leaves only invisible orphan dirs
  (:func:`vacuum_corpus_snapshot` reclaims them), so there is no torn
  state to track or repair;
- readers pin the manifest they opened: a concurrent upsert, even of
  the SAME partitions, never disturbs a running scan — plain dynamic
  partition overwrite deletes files under active readers;
- every commit is a version: ``version=`` time travel and
  :func:`corpus_snapshot_history` come for free, and concurrent
  upserts are safe (full re-run retry on a lost race, the same
  discipline as index deletes — see manifestfs.retry_on_conflict);
- it works on object stores (no renames anywhere; the log rides any
  CommitStore via ``manifestfs.use_commit_log``).

Upsert semantics are partition-granular: within touched partitions,
corpus rows whose ``key`` appears in the delta are replaced and all
delta rows inserted; untouched partitions are not read, not rewritten,
and keep serving their existing files. The cost of immutability is
disk held between vacuums: each upsert's rewrite of its touched
partitions stays on disk until :func:`vacuum_corpus_snapshot` reclaims
the superseded generation (SCALE.md "One corpus commit protocol").

No reference analogue (the reference persists nothing); same public
Delta-log/Iceberg-snapshot design basis as manifestfs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import manifestfs as M

_VERSION = 1
_TABLE = "data"

__all__ = [
    "build_corpus_snapshot",
    "load_corpus_snapshot",
    "append_corpus_snapshot",
    "upsert_corpus_snapshot",
    "corpus_snapshot_sink",
    "corpus_upsert_sink",
    "compact_corpus_snapshot",
    "corpus_snapshot_changes",
    "corpus_snapshot_history",
    "registered_sync_cursors",
    "unregister_corpus_consumer",
    "consumer_pin_cost",
    "vacuum_corpus_snapshot",
]


def touched_partition_filter(partition_by: list[str], touched) -> F.Column:
    """Planning-time partition predicate for a list of touched
    partition-value tuples — OR of per-tuple ANDs built with NULL-SAFE
    equality. Plain ``==``/``isin`` evaluate to NULL for a NULL
    partition value (Spark's ``__HIVE_DEFAULT_PARTITION__``), which
    would silently filter the partition's surviving rows OUT of the
    merge — the rewrite then drops them."""
    cond = None
    for vals in touched:
        one = None
        for c, v in zip(partition_by, vals):
            expr = F.col(c).eqNullSafe(F.lit(v))
            one = expr if one is None else (one & expr)
        cond = one if cond is None else (cond | one)
    return cond


def build_corpus_snapshot(
    df: DataFrame,
    path: str,
    *,
    key: str,
    partition_by: list[str],
    sort_by: list[str] | None = None,
    max_records_per_file: int = 5_000_000,
) -> dict:
    """Create the snapshot store: the initial corpus lands in
    ``data/gen=1`` and manifest v1 publishes it. Returns the metadata
    dict (embedded in every manifest thereafter). To stream into a new
    corpus, build it empty first (``df.limit(0)``); the sinks' tokens
    ride the append/upsert commits."""
    if not partition_by:
        raise ValueError("corpus snapshots require partition_by columns")
    local = M.local_path(path)
    os.makedirs(local, exist_ok=True)
    if M.is_manifest_store(path):
        raise FileExistsError(
            f"{path} already holds a corpus snapshot — use "
            "upsert_corpus_snapshot to merge into it"
        )
    gen = M.next_gen(path, _TABLE)
    parts = M.write_gen(
        df, path, _TABLE, gen,
        partition_by=partition_by, sort_by=sort_by,
        max_records_per_file=max_records_per_file,
    )
    meta = {
        "version": _VERSION,
        "kind": "corpus",
        "key": key,
        "partition_by": list(partition_by),
        "sort_by": list(sort_by) if sort_by else None,
        # column inventory: appends/upserts validate against this so a
        # delta missing a column can never silently drop it from the
        # merged partitions (see _check_columns)
        "columns": sorted(df.columns),
        # full schema, so an empty store (built from an empty frame,
        # or before the first streaming batch) still loads as a typed
        # empty DataFrame instead of erroring
        "schema": df.schema.json(),
    }
    tables = M.add_gens({}, _TABLE, parts, gen)
    M.init_manifest_store(path, tables=tables, meta=meta, op="build")
    return meta


def _check_meta(meta: dict) -> None:
    if meta.get("version") != _VERSION or meta.get("kind") != "corpus":
        raise ValueError(
            f"not a corpus snapshot store (meta: version="
            f"{meta.get('version')!r}, kind={meta.get('kind')!r})"
        )


def _check_columns(meta: dict, delta: DataFrame, what: str) -> None:
    """A delta whose column set differs from the store's is a hard
    error: the merge keeps surviving rows via
    ``old.select(*delta.columns)``, so a MISSING delta column would
    silently drop that column from every kept row of the touched
    partitions (data loss, not a crash), and an EXTRA column would
    fork the stored schema between generations."""
    want = set(meta["columns"])
    got = set(delta.columns)
    if want != got:
        missing = sorted(want - got)
        extra = sorted(got - want)
        raise ValueError(
            f"{what} delta columns do not match the corpus snapshot's: "
            f"missing {missing or '[]'}, unexpected {extra or '[]'} "
            f"(stored columns: {sorted(want)})"
        )


def load_corpus_snapshot(
    spark: SparkSession, path: str, *, version: int | None = None
) -> DataFrame:
    """DataFrame over the snapshot's live partitions — pinned to the
    manifest read here, so concurrent upserts/compactions never change
    (or break) what this handle serves. ``version=`` time-travels to
    any retained historical commit. Partition columns are recovered
    from the directory names (``basePath``), so predicate pushdown and
    partition pruning behave exactly as on a plain parquet corpus."""
    snap = M.read_manifest(path, version=version)
    _check_meta(snap["meta"])
    df = M.read_table(spark, path, _TABLE, snap)
    if df is None:
        # a store built empty (or awaiting its first streaming batch)
        # is valid: serve a typed empty frame from the stored schema
        import json

        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(snap["meta"]["schema"]))
        return spark.createDataFrame([], schema)
    return df


def append_corpus_snapshot(
    path: str,
    delta: DataFrame,
    *,
    max_records_per_file: int = 5_000_000,
    txn: tuple | None = None,
) -> dict:
    """INSERT-only ingest, O(delta): the delta lands as a fresh
    generation ADDED to its partitions' live lists — no existing
    partition is read or rewritten, so appending a 1 GB delta to a
    1 TB partition costs 1 GB, not 1 TB (the cost
    :func:`upsert_corpus_snapshot`'s replace semantics — and dynamic
    partition overwrite — pay). Keys are NOT dedup-checked against
    stored rows (dedup upstream — the same contract as the index
    appends). Appends are order-independent, so a lost version race
    retries with the cheap manifest merge (commit_with_retry): the
    streaming-ingest-safe path, concurrent with upserts/compactions.

    Generations accumulate one per append per touched partition —
    schedule :func:`compact_corpus_snapshot` on the
    ``part_file_counts`` fragmentation metric.

    ``txn=(app_id, batch_id)`` records an idempotence token atomically
    with the append, making streaming-checkpoint replays exactly-once
    (see :func:`..operators.manifestfs.txn_version`).

    Returns ``{"partitions": n_touched, "rows_written": n, "version"}``.
    """
    snap = M.read_manifest(path)
    meta = snap["meta"]
    _check_meta(meta)
    _check_columns(meta, delta, "append")
    if txn is not None and M.txn_version(meta, txn[0]) >= int(txn[1]):
        return {  # batch already committed: a checkpoint replay
            "partitions": 0, "rows_written": 0, "version": snap["version"],
        }
    gen = M.next_gen(path, _TABLE)
    # lazy checkpoint: the WRITE below materializes it, and the
    # rows_written count then reads the checkpointed blocks instead of
    # paying a second scan of the delta (or of the freshly written
    # parquet) per streaming micro-batch
    delta = delta.localCheckpoint(eager=False)
    parts = M.write_gen(
        delta, path, _TABLE, gen,
        partition_by=meta["partition_by"], sort_by=meta.get("sort_by"),
        max_records_per_file=max_records_per_file,
    )
    if not parts:
        return {
            "partitions": 0, "rows_written": 0, "version": snap["version"],
        }

    def mutate(fresh: dict):
        _check_meta(fresh["meta"])  # raises across a re-purposed store
        fm = fresh["meta"]
        if txn is not None and M.txn_version(fm, txn[0]) >= int(txn[1]):
            # same-token concurrent writer won since the entry check:
            # merging would double-append — abort atomically with the
            # commit; our gen stays invisible (vacuumable orphan)
            raise M.AlreadyApplied(fresh)
        return (
            M.add_gens(fresh["tables"], _TABLE, parts, gen),
            M.with_txn(fresh["meta"], txn),
        )

    try:
        out = M.commit_with_retry(path, mutate, op="append")
    except M.AlreadyApplied as e:
        return {
            "partitions": 0, "rows_written": 0,
            "version": e.snapshot["version"],
        }
    n = delta.count()
    return {
        "partitions": len(parts),
        "rows_written": int(n),
        "version": out["version"],
    }


def upsert_corpus_snapshot(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    *,
    max_records_per_file: int = 5_000_000,
    txn: tuple | None = None,
) -> dict:
    """MERGE the delta in, partition-granular, as ONE atomic commit:
    rows of touched partitions whose ``key`` appears in the delta are
    replaced, all delta rows inserted, untouched partitions untouched
    (their live generation list does not change, so their files keep
    serving byte-identically).

    Concurrency: the merge content depends on the snapshot it read, so
    a lost version race re-runs the WHOLE merge against the fresh
    snapshot (manifestfs.retry_on_conflict) — the loser's written
    generation becomes a vacuumable orphan. Two upserts of DISJOINT
    partitions therefore both land, in some serial order, with no lost
    update — the scenario plain dynamic partition overwrite silently
    corrupts.

    Returns ``{"partitions": n_touched, "rows_written": n, "version"}``.
    """
    return M.retry_on_conflict(
        lambda: _upsert_once(spark, path, delta, max_records_per_file, txn)
    )


def _upsert_once(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    max_records_per_file: int,
    txn: tuple | None = None,
) -> dict:
    snap = M.read_manifest(path)
    meta = snap["meta"]
    _check_meta(meta)
    _check_columns(meta, delta, "upsert")
    if txn is not None and M.txn_version(meta, txn[0]) >= int(txn[1]):
        return {  # batch already committed: a checkpoint replay
            "partitions": 0, "rows_written": 0, "version": snap["version"],
        }
    key = meta["key"]
    partition_by = meta["partition_by"]

    touched = [
        tuple(r[c] for c in partition_by)
        for r in delta.select(*partition_by).distinct().collect()
    ]
    if not touched:
        return {
            "partitions": 0, "rows_written": 0, "version": snap["version"],
        }
    # Planning-time partition filter (never hand-built directory paths:
    # Spark owns partition-value escaping in BOTH directions — it wrote
    # the dir names, it parses them back), null-safe, pruned against
    # the PINNED snapshot's paths only.
    cond = touched_partition_filter(partition_by, touched)
    merged = delta
    old = M.read_table(spark, path, _TABLE, snap)
    if old is not None:
        keep = (
            old.where(cond)
            .select(*delta.columns)
            .join(F.broadcast(delta.select(key).distinct()), key, "left_anti")
        )
        # materialize before writing: the snapshot's files are immutable
        # (no same-path hazard), but a lazy plan would re-run the join
        # per retry attempt anyway
        merged = keep.unionByName(delta).localCheckpoint(eager=True)

    gen = M.next_gen(path, _TABLE)
    parts = M.write_gen(
        merged, path, _TABLE, gen,
        partition_by=partition_by, sort_by=meta.get("sort_by"),
        max_records_per_file=max_records_per_file,
    )
    # every touched partition has delta rows, so `parts` covers exactly
    # the touched set (in Spark's own escaped directory-name form):
    # REPLACE those parts' live lists with the rewrite, add new ones
    tables = M.replace_parts(snap["tables"], _TABLE, parts, gen, path)
    out = M.commit_manifest(
        path, tables=tables, meta=M.with_txn(meta, txn),
        expected_version=snap["version"], op="upsert",
    )
    n = merged.count()
    return {
        "partitions": len(parts),
        "rows_written": int(n),
        "version": out["version"],
    }


def compact_corpus_snapshot(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_partition: int = 8,
    target_rows_per_file: int = 5_000_000,
) -> dict:
    """Rewrite partitions fragmented past ``max_files_per_partition``
    (each :func:`append_corpus_snapshot` adds one generation to every
    partition it touches) into single fresh-generation directories —
    selected by
    :func:`..operators.manifestfs.part_file_counts`, cut over in ONE
    commit, superseded generations reclaimed by the next vacuum.
    Single-maintenance-writer (loud conflict), like index compaction.

    Returns ``{"compacted": [part,...], "version": v}`` (version
    unchanged when nothing is fragmented)."""
    snap = M.read_manifest(path)
    meta = snap["meta"]
    _check_meta(meta)
    out = M.compact_table(
        spark, path, snap, _TABLE,
        max_files=max_files_per_partition,
        partition_by=meta["partition_by"], sort_by=meta.get("sort_by"),
        max_records_per_file=target_rows_per_file,
        rewrite=None, tables=None,
    )
    if not out["parts"]:
        return {"compacted": [], "version": snap["version"]}
    committed = M.commit_manifest(
        path, tables=out["tables"], meta=meta,
        expected_version=snap["version"], op="compact",
    )
    return {"compacted": out["parts"], "version": committed["version"]}


def corpus_snapshot_sink(
    path: str,
    *,
    compact_over: int | None = None,
    max_records_per_file: int = 5_000_000,
    app_id: str | None = None,
):
    """``foreachBatch`` sink for continuous corpus ingestion:
    each micro-batch lands via :func:`append_corpus_snapshot` as one
    atomic commit — and, with ``app_id`` set, carries the
    ``(app_id, batch_id)`` idempotence token for EXACTLY-ONCE appends
    across checkpoint replays, whether the crash hit before the commit
    (nothing visible, replay appends cleanly) or between the commit
    and the checkpoint advance (the token skips the replay).
    ``app_id`` names the streaming query's checkpoint lineage and is
    OPT-IN (default None = no token): an implicit shared default would
    silently drop the first batches of a new query whose fresh
    checkpoint resets batch ids — a new checkpoint directory must come
    with a new app_id. ``compact_over`` bounds the stream's own fragmentation
    (the same scheduling policy as the index sinks): after each
    append, partitions holding more than that many files are merged
    via :func:`compact_corpus_snapshot` — pinned readers are never
    disturbed (they hold the prior manifest). Each batch ends with a
    default :func:`vacuum_corpus_snapshot` (1 h floor).

    Usage::

        docs.writeStream.foreachBatch(corpus_snapshot_sink("/corpus"))
            .option("checkpointLocation", ckpt).start()
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_corpus_snapshot(
            path,
            batch_df,
            max_records_per_file=max_records_per_file,
            txn=None if app_id is None else (app_id, batch_id),
        )
        if compact_over is not None:
            compact_corpus_snapshot(
                batch_df.sparkSession,
                path,
                max_files_per_partition=compact_over,
                target_rows_per_file=max_records_per_file,
            )
        vacuum_corpus_snapshot(path)

    return _sink


def corpus_upsert_sink(
    path: str,
    *,
    compact_over: int | None = None,
    max_records_per_file: int = 5_000_000,
    app_id: str | None = None,
):
    """``foreachBatch`` sink for CDC-style streaming MERGE: each
    micro-batch upserts by the store's key (replace-or-insert inside
    the touched partitions) as one atomic commit — the streaming twin
    of :func:`upsert_corpus_snapshot`, for change streams where later
    batches REVISE earlier rows (the insert-only
    :func:`corpus_snapshot_sink` is the cheaper choice when they
    don't). With ``app_id`` set, the ``(app_id, batch_id)`` token makes
    checkpoint replays exactly-once — critical here, since replaying a
    MERGE is only idempotent while no later batch touched the same
    keys. Cost note: each batch rewrites its touched partitions in
    full; route high-rate streams through partition keys that bound
    the per-batch footprint. Each batch ends with a default
    :func:`vacuum_corpus_snapshot` (1 h floor), so superseded
    generations do not accumulate for the life of the stream."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_corpus_snapshot(
            batch_df.sparkSession,
            path,
            batch_df,
            max_records_per_file=max_records_per_file,
            txn=None if app_id is None else (app_id, batch_id),
        )
        if compact_over is not None:
            compact_corpus_snapshot(
                batch_df.sparkSession,
                path,
                max_files_per_partition=compact_over,
                target_rows_per_file=max_records_per_file,
            )
        vacuum_corpus_snapshot(path)

    return _sink


def corpus_snapshot_history(path: str) -> list[dict]:
    """Per-version partition add/remove audit trail, each entry labeled
    with its commit kind (``op``: build/append/upsert/compact) — see
    :func:`..operators.manifestfs.history`."""
    return M.history(path)


def corpus_snapshot_changes(
    spark: SparkSession,
    path: str,
    *,
    since: int,
    until: int | None = None,
) -> DataFrame:
    """Change feed: the rows each content-CHANGING commit in
    ``(since, until]`` added, labeled with ``_commit_version`` and
    ``_commit_op`` — so an incremental downstream pipeline re-processes
    only what new versions brought instead of re-scanning the corpus
    (the Delta change-data-feed idea, at the granularity this layout
    records for free).

    Semantics per commit kind: ``append`` rows are exact row-level
    inserts; ``upsert`` rows are the POST-MERGE content of the touched
    partitions (partition-granular change feed — the unit the commit
    actually replaced; reprocess those partitions downstream);
    ``compact`` commits rewrite without changing content and are
    EXCLUDED. ``since=0`` reads from the beginning (the ``build``
    commit included). Versions already reclaimed by vacuum raise with
    the retention hint (raise ``keep_manifests`` if the feed must
    reach further back)."""
    snap = M.read_manifest(path)  # also validates the store exists
    _check_meta(snap["meta"])
    last = int(until if until is not None else snap["version"])
    if last > int(snap["version"]):
        raise ValueError(
            f"until={last} is beyond the store's head version "
            f"{snap['version']}"
        )
    out: DataFrame | None = None
    prev = (
        {"tables": {}}
        if int(since) == 0
        else M.read_manifest(path, version=since)
    )
    tdir = os.path.join(M.local_path(path), _TABLE)
    for v in range(int(since) + 1, last + 1):
        cur = M.read_manifest(path, version=v)
        if cur.get("op") == "compact":
            prev = cur
            continue
        seen = {
            g
            for gens in prev["tables"].get(_TABLE, {}).values()
            for g in gens
        }
        added_paths = []
        for part, gens in cur["tables"].get(_TABLE, {}).items():
            for g in gens:
                if g not in seen:
                    added_paths.append(
                        os.path.join(tdir, g)
                        if part == ""
                        else os.path.join(tdir, g, part)
                    )
        prev = cur
        if not added_paths:
            continue
        df = (
            spark.read.option("basePath", tdir)
            .parquet(*sorted(set(added_paths)))
            .drop("gen")
            .withColumn("_commit_version", F.lit(v))
            .withColumn("_commit_op", F.lit(cur.get("op") or "unknown"))
        )
        out = df if out is None else out.unionByName(df)
    if out is None:
        df = load_corpus_snapshot(spark, path).limit(0)
        return df.withColumn("_commit_version", F.lit(0)).withColumn(
            "_commit_op", F.lit("none")
        )
    return out


def registered_sync_cursors(path: str) -> dict[str, int]:
    """The corpus's CONSUMER REGISTRY: every ``corpus-sync:<index>``
    key in the head manifest's txn map, with the corpus version that
    consumer has applied up to. :mod:`..operators.sync` registers and
    advances these atomically with its progress; the default
    :func:`vacuum_corpus_snapshot` derives its retention floor from
    them so a lagging sync's history can never be reclaimed out from
    under it."""
    meta = M.read_manifest(path)["meta"]
    return {
        k: int(v)
        for k, v in meta.get("txn", {}).items()
        if k.startswith("corpus-sync:")
    }


def unregister_corpus_consumer(path: str, consumer: str) -> dict:
    """Drop a RETIRED consumer from the registry so the default vacuum
    stops retaining history for it (a deleted index would otherwise
    pin the corpus log forever). ``consumer`` is the index path or the
    full ``corpus-sync:...`` registry key. Unregistering a consumer
    that still syncs is a contract violation — its next sync may hit
    the retention hint and need a rebuild."""
    key = (
        consumer
        if consumer.startswith("corpus-sync:")
        else "corpus-sync:" + os.path.abspath(M.local_path(consumer))
    )

    def mutate(fresh: dict):
        meta = dict(fresh["meta"])
        t = dict(meta.get("txn", {}))
        t.pop(key, None)
        meta["txn"] = t
        return fresh["tables"], meta

    return M.commit_with_retry(path, mutate, op="unregister-consumer")


def consumer_pin_cost(
    path: str, consumer: str, *, keep_manifests: int = 2
) -> dict:
    """What one registered consumer's cursor floor is PINNING in this
    corpus store: the manifests and generation bytes the default
    consumer-aware vacuum must retain FOR THIS CONSUMER ALONE —
    i.e. what becomes reclaimable the moment it is retired
    (:func:`unregister_corpus_consumer`). A dead index store would
    otherwise pin this history forever, invisibly; ``maintain_corpus``
    surfaces this cost for every dead consumer it skips.

    Computed as the retention delta (:func:`..operators.manifestfs.
    retention_delta`) between the vacuum keep-window WITH this
    consumer's cursor in the floor and the window WITHOUT it (the
    remaining cursors', or the bare ``keep_manifests``). Zero when
    another consumer lags equally or further behind. Returns
    ``{"cursor", "head", "manifests_pinned", "gens_pinned",
    "bytes_pinned", "txn_token"}``."""
    key = (
        consumer
        if consumer.startswith("corpus-sync:")
        else "corpus-sync:" + os.path.abspath(M.local_path(consumer))
    )
    snap = M.read_manifest(path)
    cursors = {
        k: int(v)
        for k, v in snap["meta"].get("txn", {}).items()
        if k.startswith("corpus-sync:")
    }
    if key not in cursors:
        raise KeyError(f"{key} is not a registered consumer of {path}")
    head = int(snap["version"])

    def keep_for(cs: dict) -> int:
        if not cs:
            return int(keep_manifests)
        # same floor rule as vacuum_corpus_snapshot: a consumer at
        # cursor c needs manifests c-1.. retained → keep head-c+1
        return max(int(keep_manifests), head - min(cs.values()) + 1)

    keep_with = keep_for(cursors)
    keep_without = keep_for({k: v for k, v in cursors.items() if k != key})
    delta = M.retention_delta(path, keep_without, keep_with)
    return {
        "cursor": cursors[key],
        "head": head,
        "manifests_pinned": len(delta["manifests"]),
        "gens_pinned": delta["gens"],
        "bytes_pinned": delta["bytes"],
        "txn_token": key,
    }


def vacuum_corpus_snapshot(
    path: str,
    *,
    keep_manifests: int = 2,
    min_age_seconds: float = 3600.0,
    ignore_consumers: bool = False,
) -> dict:
    """Reclaim generations superseded by upserts/compactions and
    orphans of crashed writers — see :func:`..operators.manifestfs.
    vacuum` for the reader-grace and age-floor contracts.

    CONSUMER-AWARE by default: the retention floor is raised to cover
    every cursor in :func:`registered_sync_cursors`, so a lagging
    registered index sync keeps the manifests it still needs (reading
    commit ``v`` needs manifests ``v-1`` and ``v``) no matter how
    small ``keep_manifests`` is — the vacuum can then run on a cron
    without coordinating with sync cadence. ``ignore_consumers=True``
    waives the floor (explicit override — a sync lagging past it
    raises the retention hint and must rebuild from head); retire dead
    consumers with :func:`unregister_corpus_consumer` instead of
    waiving."""
    keep = int(keep_manifests)
    if not ignore_consumers:
        snap = M.read_manifest(path)
        cursors = {
            k: int(v)
            for k, v in snap["meta"].get("txn", {}).items()
            if k.startswith("corpus-sync:")
        }
        if cursors:
            floor = min(cursors.values())
            # a consumer at cursor c reads commits c+1.. — each needs
            # its own manifest and its predecessor's, so retain
            # versions >= c: the last (head - c + 1) manifests
            keep = max(keep, int(snap["version"]) - floor + 1)
    return M.vacuum(
        path, keep_manifests=keep, min_age_seconds=min_age_seconds
    )
