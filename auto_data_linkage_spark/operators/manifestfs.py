"""Manifest-committed store layout — the one commit protocol of every
persisted store (lexical index, ANN index, edge store, streaming-linker
state, corpus snapshots): each lifecycle operation writes immutable
data and publishes it with one manifest commit.

Layout under ``<root>/``::

    _manifests/v000000000001.json   # immutable manifest versions
    <table>/gen=1/bucket=3/*.parquet    # immutable data generations
    <table>/gen=2/...                   # (unpartitioned tables hold
                                        #  files directly under gen=N/)

A **manifest** is one JSON object naming every live data directory of
every table::

    {"version": 7,
     "meta": {...store metadata (index.json's content lives here)...},
     "tables": {"postings":   {"bucket=3": ["gen=1", "gen=5"], ...},
                "tombstones": {"": ["gen=2"]}}}

Mutations never touch committed data:

1. write NEW parquet data into a fresh ``gen=N`` directory (never into
   a live one);
2. COMMIT by atomically creating ``_manifests/v{N+1}.json``
   (exactly one writer can win a version — on posix the fully-written
   temp file is published by ``os.link``, so the name appears with
   complete content or not at all; on S3/GCS this is one conditional
   PUT, the :class:`..sources.layout.CommitStore` primitive).

Readers list ``_manifests/`` and take the highest version that parses
(object stores never expose partial objects, and the link-publish
gives posix the same property; a torn file left by a pre-link writer
or corruption is skipped defensively, reclaimed in place by the next
commit that wants its slot, and vacuumed as an orphan). The manifest a reader opened PINS its snapshot: the directories
it names are immutable, so a compaction/rebuild/append committing
*after* the read changes nothing the reader can see — concurrent
readers are safe by construction, and a multi-bucket compaction or a
whole-store rebuild cuts over atomically in that single commit.

Crash model: a writer that dies before its commit leaves orphan
``gen=N`` directories that no manifest references — invisible to every
reader, removed by :func:`vacuum`. There is NO torn state and NO
repair sweep; the retry of a crashed append/delete re-runs cleanly
(nothing of the failed attempt was committed).

Stores written by older versions in the retired in-place ``rename``
layout (an ``index.json`` side file, or live ``bucket=N`` / ``cell=N``
/ ``batch=N`` directories, and no manifest log) are refused with a
``ValueError`` naming the path (:func:`reject_legacy_store`): rebuild
them at a new path.

What still assumes a single MAINTENANCE writer: generation numbers are
allocated from a directory listing and commits race on the version
number — two concurrent maintainers would conflict loudly
(:class:`ManifestConflictError`), never corrupt. ``vacuum`` must not
run concurrently with an in-flight (pre-commit) write or with readers
pinned to manifests older than ``keep_manifests``.

Spark's own task commit (how part-files appear inside a gen dir) is
delegated to its pluggable committer — on object stores use the public
cloud committers (S3A "magic"/directory committer, GCS equivalents);
this module's own I/O performs ZERO renames (asserted by test).

No reference analogue (the reference persists nothing). Public-
knowledge design: immutable data files + a linear log of JSON
manifests committed by conditional create is the Delta-log /
Iceberg-snapshot pattern, reduced to the minimum these stores need.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_DIR = "_manifests"
_LEGACY_DIRS = ("bucket=", "cell=", "batch=")

__all__ = [
    "ManifestConflictError",
    "TransientCommitError",
    "AlreadyApplied",
    "use_commit_log",
    "clear_commit_log",
    "local_path",
    "is_manifest_store",
    "reject_legacy_store",
    "init_manifest_store",
    "read_manifest",
    "commit_manifest",
    "commit_with_retry",
    "retry_on_conflict",
    "txn_version",
    "with_txn",
    "next_gen",
    "written_parts",
    "write_gen",
    "add_gens",
    "replace_parts",
    "compact_table",
    "table_paths",
    "read_table",
    "part_file_counts",
    "history",
    "checkpoint_manifest_log",
    "prune_txn_tokens",
    "retention_delta",
    "vacuum",
]


class ManifestConflictError(RuntimeError):
    """Another writer committed the version this writer raced for —
    concurrent maintenance is a contract violation (single maintenance
    writer), surfaced loudly instead of corrupting anything."""


class AlreadyApplied(Exception):
    """Raised by a ``mutate`` closure passed to :func:`commit_with_retry`
    when the FRESH snapshot already carries the mutation's idempotence
    token (:func:`txn_version`) — i.e. a concurrent writer presenting
    the SAME ``(app_id, batch_id)`` won the race between this writer's
    entry check and its commit (duplicate sink instances, overlapping
    syncs). Merging anyway would double-apply the batch; raising this
    makes the token guard atomic with the commit: nothing is committed,
    the loser's pre-written generations stay invisible (vacuumable
    orphans), and the caller receives ``.snapshot`` — the fresh
    manifest that proves the batch is already in."""

    def __init__(self, snapshot: dict):
        super().__init__(
            f"txn already applied at version {snapshot.get('version')}"
        )
        self.snapshot = snapshot


class TransientCommitError(RuntimeError):
    """Raised by a :class:`..sources.layout.CommitStore` backend when a
    conditional create failed with UNKNOWN outcome — a timeout or 5xx
    after the request may already have been applied server-side (the
    classic object-store hazard: an S3 conditional PUT that times out
    can still have landed). :func:`commit_manifest` resolves the
    ambiguity by reading the slot back: our exact manifest there means
    the put landed (success); someone else's means a genuine lost race;
    an empty slot means it really failed (retried, bounded). Backends
    must raise THIS (not a bare exception) for weather they want the
    protocol to absorb; anything else propagates as a hard error."""


def local_path(path: str) -> str:
    """Strip a ``file://`` scheme so ``os`` calls work on the path."""
    return path[7:] if path.startswith("file://") else path


def _mdir(root: str) -> str:
    return os.path.join(local_path(root), MANIFEST_DIR)


def _vname(version: int) -> str:
    return f"v{version:012d}.json"


# --------------------------------------------------------- log backends
# The manifest log's only primitives are conditional-create, list, and
# remove — exactly the :class:`..sources.layout.CommitStore` interface.
# By default the log is posix files under _manifests/ (create =
# O_CREAT|O_EXCL). `use_commit_log` swaps in any CommitStore for a
# given root — e.g. an object-store-backed one (S3 If-None-Match / GCS
# generation-match conditional PUT), or MemoryCommitStore to run the
# ENTIRE protocol against pure object-store semantics in tests (no
# _manifests directory touches disk at all). Data generations are
# still parquet directories wherever `root` points (Spark's reader/
# writer handles the actual storage scheme).
_LOG_BACKENDS: dict[str, object] = {}


def _key(root: str) -> str:
    return os.path.abspath(local_path(root))


def use_commit_log(root: str, store) -> None:
    """Route ``root``'s manifest log through a
    :class:`..sources.layout.CommitStore` (conditional-create object
    semantics) instead of posix files. Register BEFORE building the
    store; the registration is process-local (each session/driver that
    opens the store must register the same backend)."""
    _LOG_BACKENDS[_key(root)] = store


def clear_commit_log(root: str) -> None:
    """Drop a :func:`use_commit_log` registration (tests)."""
    _LOG_BACKENDS.pop(_key(root), None)


def _backend(root: str):
    return _LOG_BACKENDS.get(_key(root))


def is_manifest_store(root: str) -> bool:
    be = _backend(root)
    if be is not None:
        return bool(_manifest_names(root))
    return os.path.isdir(_mdir(root))


def reject_legacy_store(root: str) -> None:
    """Raise ``ValueError`` when ``root`` holds a store written in the
    retired ``rename`` layout: no manifest log, but an ``index.json``
    side file or live ``bucket=N`` / ``cell=N`` / ``batch=N``
    directories at the root or one level below it. Such a store is
    input from an older version; it is never read or written in place.
    A missing or empty directory passes."""
    local = local_path(root)
    if is_manifest_store(root) or not os.path.isdir(local):
        return
    entries = os.listdir(local)
    legacy = "index.json" in entries
    for entry in entries:
        if legacy:
            break
        sub = os.path.join(local, entry)
        if entry.startswith(_LEGACY_DIRS):
            legacy = True
        elif os.path.isdir(sub) and entry != MANIFEST_DIR:
            legacy = any(e.startswith(_LEGACY_DIRS) for e in os.listdir(sub))
    if legacy:
        raise ValueError(
            f"{root} holds a store written in the retired rename layout "
            "(index.json or bucket=N/cell=N/batch=N directories, no "
            "manifest log); this version reads manifest-layout stores "
            "only — rebuild it at a new path"
        )


def _manifest_names(root: str) -> list[str]:
    """Sorted ``v*.json`` record names WITHOUT parsing any payload —
    the names-only primitive the O(1)-opens head read builds on."""
    be = _backend(root)
    if be is not None:
        names = be.list_names()
    else:
        mdir = _mdir(root)
        names = os.listdir(mdir) if os.path.isdir(mdir) else []
    return sorted(
        n for n in names if n.startswith("v") and n.endswith(".json")
    )


def _get_manifest(root: str, name: str) -> dict | None:
    """Point-read one manifest record (None = absent/unreadable)."""
    be = _backend(root)
    if be is not None:
        return be.get(name)
    try:
        with open(os.path.join(_mdir(root), name)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _list_manifests(root: str) -> list[tuple[str, dict | None]]:
    """(name, parsed-or-None) for every manifest in the log, sorted by
    name ascending. ``None`` = unreadable (a posix file mid-write by a
    dead writer; CommitStore backends report the same)."""
    be = _backend(root)
    if be is not None:
        return sorted(
            (n, r)
            for n, r in be.list_records().items()
            if n.startswith("v") and n.endswith(".json")
        )
    mdir = _mdir(root)
    out: list[tuple[str, dict | None]] = []
    if os.path.isdir(mdir):
        for name in sorted(os.listdir(mdir)):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            try:
                with open(os.path.join(mdir, name)) as f:
                    out.append((name, json.load(f)))
            except (OSError, ValueError):
                out.append((name, None))
    return out


def read_manifest(root: str, version: int | None = None) -> dict:
    """The reader's pinned snapshot: the highest manifest version that
    parses as complete JSON — or, with ``version``, that EXACT
    historical version (time travel: every manifest is immutable and
    names immutable directories, so any version still on disk serves
    its results bit-exactly; versions reclaimed by :func:`vacuum`
    raise with the retention hint). A truncated newest file (writer
    died mid-write on a POSIX filesystem; object stores never expose
    partials) is skipped in favor of its predecessor.

    Opens O(1) FILES however long the log is: one names-only listing,
    then point-reads from the newest name backwards until a complete
    manifest parses (one read in the healthy case) — a 200-commit
    store costs the same head read as a 2-commit one, so log growth
    between vacuums never taxes readers."""
    if version is not None:
        m = _get_manifest(root, _vname(int(version)))
        if not m:
            reject_legacy_store(root)
            raise FileNotFoundError(
                f"manifest version {version} of {root} is not readable "
                "— it may have been reclaimed by vacuum (raise "
                "keep_manifests to retain more history)"
            )
        return m
    for name in reversed(_manifest_names(root)):
        m = _get_manifest(root, name)
        if m is not None and int(m.get("version", -1)) == int(name[1:-5]):
            return m
    reject_legacy_store(root)
    raise FileNotFoundError(f"no readable manifest for {root}")


def _fsync_dir(path: str) -> None:
    """fsync a directory so a just-created entry (the published
    manifest name) survives power loss — the standard pairing with the
    file-content fsync. Best-effort on filesystems that reject
    directory fds."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def _readable_version(path: str, version: int) -> bool:
    """Does ``path`` hold a complete manifest for ``version``?"""
    try:
        with open(path) as f:
            m = json.load(f)
        return int(m.get("version", -1)) == int(version)
    except (OSError, ValueError):
        return False


def commit_manifest(
    root: str,
    *,
    tables: dict,
    meta: dict,
    expected_version: int,
    op: str | None = None,
) -> dict:
    """Atomically commit ``expected_version + 1``. On posix the commit
    is: write the FULL manifest to a hidden temp file (fsync), then
    publish it under the version name with :func:`os.link` — the name
    appears with its complete content or not at all, so a crash can
    never leave a truncated manifest under a ``v*.json`` name (the
    dead writer's residue is a hidden temp file the listing ignores).
    Exactly one writer can win a version: ``link`` fails with
    FileExistsError when the name is taken (the CommitStore
    conditional-create primitive — S3 If-None-Match / GCS
    generation-match on object stores). A name that exists but does
    NOT parse as its version (a torn file left by a pre-link-era
    writer, or a corrupted object) is reclaimed in place and the
    publish retried — otherwise the log would be permanently wedged:
    readers skip the torn file, so every retry would re-commit the
    same version and lose to its own debris forever. Raises
    :class:`ManifestConflictError` on a genuinely lost race."""
    if not expected_version:
        reject_legacy_store(root)
    version = int(expected_version) + 1
    manifest = {"version": version, "meta": meta, "tables": tables}
    if op is not None:
        # commit-kind label ("build"/"append"/"upsert"/"compact"/...):
        # lets history() and change feeds tell content-ADDING commits
        # from content-preserving rewrites without guessing from the
        # table deltas
        manifest["op"] = str(op)
    be = _backend(root)
    if be is not None:
        name = _vname(version)
        # Absorb object-store weather: a TransientCommitError from the
        # backend means the conditional PUT's outcome is UNKNOWN — it
        # may have landed before the timeout. Blindly retrying the
        # MUTATION on that would be wrong twice over: commit_with_retry
        # would merge our gens into a snapshot that already lists them
        # (rows read twice) and re-bump n_docs (stat drift). Resolve by
        # reading the slot back instead: bit-equal content can only be
        # OUR put (delta/compaction manifests name this writer's
        # nonce-gens, which no other writer can reference), so it IS
        # success; different content is a genuine lost race; an empty
        # slot means the put truly failed and the create is retried.
        had_ambiguous = False
        for _ in range(5):
            try:
                won = be.create_exclusive(name, manifest)
            except TransientCommitError:
                had_ambiguous = True
                stored = be.get(name)  # point read, not the full log
                if stored == manifest:
                    return manifest  # our ambiguous put actually landed
                if stored is None:
                    continue  # really failed (or still torn) — retry
                won = False  # someone else's commit occupies the slot
            if won:
                return manifest
            # A plain lost race (create returned False) can only be OUR
            # prior attempt if an earlier iteration was AMBIGUOUS — so
            # the read-back (a point read) is paid only then, never on
            # the common first-attempt conflict in commit_with_retry's
            # hot retry loop.
            if had_ambiguous and be.get(name) == manifest:
                return manifest  # a prior ambiguous attempt of ours won
            raise ManifestConflictError(
                f"version {version} of {root} was committed by a "
                "concurrent writer — re-read the manifest and retry"
            )
        raise TransientCommitError(
            f"conditional create of {name} on {root} kept failing "
            "transiently — backend weather exhausted the retry budget"
        )
    import uuid

    mdir = _mdir(root)
    os.makedirs(mdir, exist_ok=True)
    target = os.path.join(mdir, _vname(version))
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
    fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    with os.fdopen(fd, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        for _ in range(2):
            try:
                os.link(tmp, target)
                _fsync_dir(mdir)  # durability: the name itself must
                # reach disk before the commit is acknowledged — a
                # power loss after the ack would otherwise un-commit a
                # batch whose streaming checkpoint already advanced
                return manifest
            except FileExistsError:
                if _readable_version(target, version):
                    break  # a real concurrent commit won the slot
                # Torn debris (link-published files are always complete,
                # so an unreadable occupant is external corruption or a
                # pre-link-era writer's leftover): reclaim the slot —
                # but ONLY under an exclusive sidecar lock. A bare
                # check-then-remove races a concurrent reclaimer: the
                # loser's remove would delete the winner's just-
                # published COMPLETE manifest, silently losing an
                # acknowledged commit. Non-reclaiming committers never
                # need the lock (os.link is exclusive on its own); the
                # critical section is sub-millisecond, and a lock
                # orphaned by a crash inside it is cleared by vacuum
                # past the age floor.
                lock = target + ".reclaim"
                try:
                    os.close(
                        os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    )
                except FileExistsError:
                    raise ManifestConflictError(
                        f"version {version} of {root} has a torn manifest "
                        "being reclaimed by another writer — retry; if "
                        f"{lock} persists, its owner died mid-reclaim "
                        "(vacuum clears it past the age floor)"
                    ) from None
                try:
                    if _readable_version(target, version):
                        break  # a complete manifest landed while racing
                    try:
                        os.remove(target)
                    except FileNotFoundError:
                        pass
                finally:
                    os.remove(lock)
    finally:
        os.remove(tmp)
    raise ManifestConflictError(
        f"version {version} of {root} was committed by a concurrent "
        "writer — this store has a single-maintenance-writer "
        "contract; re-read the manifest and retry the operation"
    )


def init_manifest_store(
    root: str, *, tables: dict, meta: dict, op: str | None = None
) -> dict:
    """Create the store: data (if any) must already sit in its gen
    dirs; this commits manifest v1."""
    return commit_manifest(
        root, tables=tables, meta=meta, expected_version=0, op=op
    )


def commit_with_retry(
    root: str, mutate, *, retries: int = 5, op: str | None = None
) -> dict:
    """Commit a DELTA mutation with optimistic merge-retry — the
    concurrency upgrade for additive writers (appends, takedowns):
    a streaming sink can keep appending while another session commits,
    instead of dying on the version race.

    ``mutate(snapshot) -> (tables, meta)`` recomputes the commit
    CONTENT from a fresh snapshot; the data generations were already
    written (immutable, nonce-named — see :func:`next_gen`) so only
    the manifest merge re-runs, never the data work. Safe ONLY for
    mutations whose merge is order-independent (adding a generation to
    a bucket's live list composes with any interleaved commit,
    including a compaction that replaced the bucket's other gens);
    ``mutate`` must itself RAISE when the fresh snapshot is no longer
    mergeable (e.g. a rebuild changed structural parameters). Token-
    guarded mutations must ALSO re-check their ``(app_id, batch_id)``
    inside ``mutate`` and raise :class:`AlreadyApplied` when the fresh
    snapshot already carries it — the entry check alone is a TOCTOU
    window against a concurrent writer presenting the same token
    (``AlreadyApplied`` propagates; callers return its ``.snapshot``).
    Rewriting mutations (compaction, rebuild) must NOT use this — a
    blind retry would resurrect generations their rewrite superseded;
    they stay loud-conflict single-writer."""
    last: Exception | None = None
    for _ in range(retries + 1):
        snap = read_manifest(root)
        tables, meta = mutate(snap)
        try:
            return commit_manifest(
                root, tables=tables, meta=meta,
                expected_version=snap["version"], op=op,
            )
        except ManifestConflictError as e:
            last = e
            continue
    raise ManifestConflictError(
        f"lost the commit race {retries + 1} times on {root}; "
        "concurrent writers are saturating this store"
    ) from last


def retry_on_conflict(fn, *, retries: int = 5):
    """Full re-run retry for snapshot-DEPENDENT mutations (tombstone
    deletes): unlike :func:`commit_with_retry`, whose cheap manifest
    merge is only sound for order-independent deltas, a delete's
    commit CONTENT is computed from the snapshot it read — negative df
    deltas recount the postings, ``n_rows``/``n_docs`` decrement by
    what was actually present — so losing the version race makes that
    content stale (a racing append may have added rows with the very
    ids being deleted; a racing rebuild reset the tombstone mask). The
    only always-correct retry is to re-run the WHOLE mutation against
    the fresh snapshot: ``fn`` must re-read the manifest itself, so
    each attempt recomputes against current state (already-tombstoned
    ids drop out via the anti-join — idempotent; a rebuild's reset
    corpus is re-counted from scratch). The losing attempt's written
    generations are nonce-named orphans, reclaimed by :func:`vacuum`.
    Deletes are rare next to appends, so redoing the data work on a
    lost race is the right trade — appends keep the cheap merge."""
    last: Exception | None = None
    for _ in range(retries + 1):
        try:
            return fn()
        except ManifestConflictError as e:
            last = e
    raise ManifestConflictError(
        f"lost the commit race {retries + 1} times; concurrent "
        "writers are saturating this store"
    ) from last


def txn_version(meta: dict, app_id: str) -> int:
    """Highest idempotence token committed for ``app_id`` (-1 when
    none). The Delta-style ``txn`` pattern: a streaming sink records
    its (app_id, batch_id) IN the same manifest commit as the batch's
    data, so a batch replayed after a crash-between-commit-and-
    checkpoint is recognized and skipped — exactly-once appends, not
    just at-least-once. ``app_id`` identifies the streaming query's
    checkpoint lineage (restarting from a NEW checkpoint directory
    resets batch ids to 0, so it must use a new app_id)."""
    return int(meta.get("txn", {}).get(str(app_id), -1))


def with_txn(meta: dict, txn: "tuple | None") -> dict:
    """Copy of ``meta`` with the ``(app_id, batch_id)`` idempotence
    token recorded (see :func:`txn_version`); unchanged when ``txn``
    is None. Tokens are MONOTONE: recording a batch id at or below the
    stored one is a no-op — a slow writer re-committing an old token
    (e.g. an overlapping sync's cursor record racing a newer one) can
    never rewind the cursor and cause later batches to re-apply."""
    if txn is None:
        return meta
    app_id, batch_id = txn
    out = dict(meta)
    t = dict(out.get("txn", {}))
    t[str(app_id)] = max(int(batch_id), int(t.get(str(app_id), -1)))
    out["txn"] = t
    return out


def _gen_seq(entry: str) -> int | None:
    """Leading sequence number of a ``gen=<n>[x<nonce>]`` dir name."""
    if not entry.startswith("gen="):
        return None
    head = entry[4:].split("x", 1)[0]
    try:
        return int(head)
    except ValueError:
        return None


def next_gen(root: str, table: str) -> str:
    """Allocate the next generation directory name for ``table`` from a
    disk listing (NOT from the manifest): orphan gens of crashed
    writers must never be reused — their stale data would silently mix
    into the new generation. The name carries a random nonce
    (``gen=<n>x<hex8>``) so two writers that race the listing can
    never land in the SAME directory — each attempt's data is its own
    immutable dir, and the loser of the subsequent version race
    either retries (delta mutations merge, see
    :func:`commit_with_retry`) or leaves a vacuumable orphan.

    Every write allocates its generation here first, so a store left
    by the retired ``rename`` layout is refused
    (:func:`reject_legacy_store`) before any data lands in it."""
    import uuid

    reject_legacy_store(root)
    tdir = os.path.join(local_path(root), table)
    mx = 0
    if os.path.isdir(tdir):
        for entry in os.listdir(tdir):
            seq = _gen_seq(entry)
            if seq is not None:
                mx = max(mx, seq)
    return f"gen={mx + 1}x{uuid.uuid4().hex[:8]}"


def written_parts(root: str, table: str, gen: str) -> list[str]:
    """Partition directories a ``partitionBy`` write actually created
    under ``<table>/<gen>/`` (empty deltas create none); ``[""]`` when
    the gen dir holds plain files (unpartitioned table). Nested
    partitioning (``partitionBy("a", "b")``) yields composite keys like
    ``a=1/b=2`` — the LEAF directories, exactly the granularity dynamic
    partition overwrite replaces, so corpus snapshots track the same
    unit. Spark writes the directory names itself, so partition-value
    escaping is its, never hand-built here."""
    gdir = os.path.join(local_path(root), table, gen)
    if not os.path.isdir(gdir):
        return []
    parts: list[str] = []

    def walk(d: str, rel: str) -> None:
        subs = [
            e
            for e in os.listdir(d)
            if "=" in e and os.path.isdir(os.path.join(d, e))
        ]
        if subs:
            for e in subs:
                walk(os.path.join(d, e), f"{rel}/{e}" if rel else e)
        elif rel:
            parts.append(rel)

    walk(gdir, "")
    if parts:
        return sorted(parts)
    has_files = any(e.endswith(".parquet") for e in os.listdir(gdir))
    return [""] if has_files else []


def write_gen(
    df: DataFrame,
    root: str,
    table: str,
    gen: str,
    *,
    partition_by: list[str],
    sort_by: list[str] | None,
    max_records_per_file: int,
) -> list[str]:
    """Write ``df`` into ``<table>/<gen>/`` partitioned by
    ``partition_by``: hash-repartition on the partition columns (each
    partition's rows land in one task, so each directory gets a
    bounded file count), optionally sort within tasks (parquet min/max
    selectivity), cap rows per file. Returns the leaf partition keys
    actually created (:func:`written_parts`)."""
    out = df.repartition(*[F.col(c) for c in partition_by])
    if sort_by:
        out = out.sortWithinPartitions(*[F.col(c) for c in sort_by])
    (
        out.write.mode("error")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_by)
        .parquet(os.path.join(local_path(root), table, gen))
    )
    return written_parts(root, table, gen)


def add_gens(tables: dict, table: str, parts: list[str], gen: str) -> dict:
    """New tables mapping with ``gen`` appended to each part's live
    list (append/delete deltas). Input is not mutated."""
    out = {t: {p: list(g) for p, g in m.items()} for t, m in tables.items()}
    tm = out.setdefault(table, {})
    for part in parts:
        tm.setdefault(part, []).append(gen)
    return out


def replace_parts(
    tables: dict, table: str, old_parts: list[str], gen: str, root: str
) -> dict:
    """New tables mapping where each of ``old_parts`` is REPLACED by
    its rewrite in ``gen`` — or dropped entirely when the rewrite
    emptied it (tombstone purge) — the compaction commit shape. Input
    is not mutated."""
    rewritten = set(written_parts(root, table, gen))
    out = {t: {p: list(g) for p, g in m.items()} for t, m in tables.items()}
    tm = out.setdefault(table, {})
    for part in old_parts:
        if part in rewritten:
            tm[part] = [gen]
        else:
            tm.pop(part, None)
    return out


def compact_table(
    spark: SparkSession,
    root: str,
    snapshot: dict,
    table: str,
    *,
    max_files: int,
    partition_by: list[str],
    sort_by: list[str] | None,
    max_records_per_file: int,
    rewrite,
    tables: dict | None,
) -> dict:
    """The one fragment compaction of every store: read the live
    partitions of ``table`` holding more than ``max_files`` parquet
    files, apply the store's ``rewrite(df) -> df`` (tombstone purge,
    delta merge; None for a verbatim rewrite), write the result as ONE
    fresh generation (:func:`write_gen`) and replace those partitions
    in ``tables`` (None: the snapshot's; pass the running mapping to
    compact several tables into one commit). The caller commits.

    Returns ``{"tables", "parts", "files_before", "files_after",
    "rows"}``: ``parts`` are the rewritten partition keys (empty — and
    nothing written — when none is over the limit), ``rows`` the row
    count written, summed from the new files' parquet footers (no
    Spark job)."""
    counts = part_file_counts(root, table, snapshot)
    tables = snapshot["tables"] if tables is None else tables
    hot = sorted(p for p, c in counts.items() if c > max_files)
    out = {
        "tables": tables,
        "parts": hot,
        "files_before": sum(counts.values()),
        "files_after": sum(counts.values()),
        "rows": 0,
    }
    if not hot:
        return out
    df = (
        spark.read.option("basePath", os.path.join(local_path(root), table))
        .parquet(*table_paths(root, table, snapshot, parts=hot))
        .drop("gen")
    )
    if rewrite is not None:
        df = rewrite(df)
    gen = next_gen(root, table)
    write_gen(
        df, root, table, gen, partition_by=partition_by, sort_by=sort_by,
        max_records_per_file=max_records_per_file,
    )
    out["tables"] = replace_parts(tables, table, hot, gen, root)
    out["files_after"] = sum(
        part_file_counts(root, table, {"tables": out["tables"]}).values()
    )
    import pyarrow.parquet as pq

    for d, _, names in os.walk(os.path.join(local_path(root), table, gen)):
        out["rows"] += sum(
            pq.read_metadata(os.path.join(d, n)).num_rows
            for n in names
            if n.endswith(".parquet")
        )
    return out


def table_paths(
    root: str, table: str, snapshot: dict, *, parts: list[str] | None = None
) -> list[str]:
    """Absolute live data directories of ``table`` in ``snapshot``
    (optionally restricted to ``parts``) — the reader's pinned path
    set."""
    local = local_path(root)
    mapping = snapshot["tables"].get(table, {})
    out = []
    for part, gens in sorted(mapping.items()):
        if parts is not None and part not in parts:
            continue
        for gen in gens:
            base = os.path.join(local, table, gen)
            out.append(base if part == "" else os.path.join(base, part))
    return out


def read_table(
    spark: SparkSession,
    root: str,
    table: str,
    snapshot: dict,
    *,
    schema: str | None = None,
) -> DataFrame | None:
    """DataFrame over the snapshot's live directories of ``table``
    (``None`` when the table has none). Partitioned tables read with
    ``basePath=<table root>`` so the partition column (``bucket=``/
    ``cell=``) is recovered and predicate/partition pruning work
    exactly as on a plain partitioned table; the ``gen`` column is
    dropped.

    ``schema`` is the table's column list as the store recorded it at
    build (``a:int,b:string`` or ``a int, b string``, partition column
    included). Given, the read skips Spark's schema inference — a
    footer-sampling job per table, most of a handle open's cost; the
    columns come out in the same order inference gives."""
    paths = table_paths(root, table, snapshot)
    if not paths:
        return None
    reader = spark.read
    if schema is not None:
        reader = reader.schema(T.DataType.fromDDL(f"struct<{schema}>"))
    mapping = snapshot["tables"][table]
    if any(p != "" for p in mapping):
        tdir = os.path.join(local_path(root), table)
        return reader.option("basePath", tdir).parquet(*paths).drop("gen")
    return reader.parquet(*paths)


def part_file_counts(root: str, table: str, snapshot: dict) -> dict[str, int]:
    """Parquet data-file count per LIVE logical partition (summed over
    its generations) — the fragmentation metric compaction thresholds
    on."""
    local = local_path(root)
    out: dict[str, int] = {}
    for part, gens in snapshot["tables"].get(table, {}).items():
        n = 0
        for gen in gens:
            d = os.path.join(local, table, gen)
            if part != "":
                d = os.path.join(d, part)
            if os.path.isdir(d):
                n += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        out[part] = n
    return out


def _gen_sets(manifest: dict) -> dict:
    """tables → flat set of ``part/gen`` keys (the diffing unit)."""
    return {
        t: {f"{p}/{g}" if p else g for p, gens in mp.items() for g in gens}
        for t, mp in manifest.get("tables", {}).items()
    }


def _diff_entry(prev: dict, cur: dict, manifest: dict) -> dict:
    added = {
        t: sorted(cur[t] - prev.get(t, set()))
        for t in cur
        if cur[t] - prev.get(t, set())
    }
    removed = {
        t: sorted(prev[t] - cur.get(t, set()))
        for t in prev
        if prev[t] - cur.get(t, set())
    }
    return {
        "version": int(manifest["version"]),
        "op": manifest.get("op"),
        "added": added,
        "removed": removed,
    }


def _chk_name(upto: int) -> str:
    return f"chk{upto:012d}.json"


def _checkpoint_names(root: str) -> list[str]:
    be = _backend(root)
    if be is not None:
        names = be.list_names()
    else:
        mdir = _mdir(root)
        names = os.listdir(mdir) if os.path.isdir(mdir) else []
    return sorted(
        n for n in names if n.startswith("chk") and n.endswith(".json")
    )


def _newest_checkpoint(root: str) -> dict | None:
    for name in reversed(_checkpoint_names(root)):
        rec = _get_manifest(root, name)
        if rec is not None and "upto" in rec:
            return rec
    return None


def _put_checkpoint(root: str, record: dict) -> dict:
    """Publish a checkpoint record by conditional create; a racing
    checkpointer at the same upto wins or loses cleanly — the loser
    adopts the winner's record (same content by construction)."""
    name = _chk_name(int(record["upto"]))
    be = _backend(root)
    if be is not None:
        if be.create_exclusive(name, record):
            return record
        return be.get(name) or record
    mdir = _mdir(root)
    os.makedirs(mdir, exist_ok=True)
    import uuid

    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(record, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, os.path.join(mdir, name))
        _fsync_dir(mdir)
    except FileExistsError:
        pass  # a concurrent checkpointer at the same upto won — same content
    finally:
        os.remove(tmp)
    return record


def checkpoint_manifest_log(root: str) -> dict:
    """Delta-style LOG CHECKPOINT: one summary record
    (``chk<upto>.json``) carrying the audit history (per-version op +
    generation adds/removes) and the cumulative live-set state of
    every version ≤ the current head. After checkpointing, ``vacuum``
    may reclaim the manifest FILES the checkpoint covers while
    :func:`history` still replays their entries — the log's audit
    trail no longer forces unbounded manifest retention.

    Head READS never need checkpoints: every manifest is already a
    full snapshot, and :func:`read_manifest` opens O(1) files however
    long the log grows. What the checkpoint bounds is the cost (and
    retention requirement) of the FULL-LOG operations — history and
    audit replay.

    Incremental: builds on the newest previous checkpoint, parsing
    only manifests committed after it. Returns the checkpoint record
    ``{"upto", "entries": [...], "state": {table: [part/gen, ...]}}``.
    Time travel to versions whose manifests were subsequently vacuumed
    still raises with the retention hint — a checkpoint preserves the
    audit trail, not the snapshots' data."""
    prev_chk = _newest_checkpoint(root)
    entries = list(prev_chk["entries"]) if prev_chk else []
    state = (
        {t: set(ks) for t, ks in prev_chk["state"].items()}
        if prev_chk
        else {}
    )
    upto = int(prev_chk["upto"]) if prev_chk else 0
    for name, m in _list_manifests(root):
        if m is None or int(m.get("version", -1)) != int(name[1:-5]):
            continue
        if int(m["version"]) <= upto:
            continue
        cur = _gen_sets(m)
        entries.append(_diff_entry(state, cur, m))
        state = cur
        upto = int(m["version"])
    record = {
        "upto": upto,
        "entries": entries,
        "state": {t: sorted(ks) for t, ks in state.items()},
    }
    if prev_chk is not None and int(prev_chk["upto"]) == upto:
        return prev_chk  # nothing new to summarize
    return _put_checkpoint(root, record)


def prune_txn_tokens(root: str, apps) -> dict:
    """Token RETENTION policy: drop the ``(app_id → batch_id)``
    idempotence tokens of the given RETIRED writers from the store
    meta (one cursor-only merge-retried commit). The txn map otherwise
    grows one entry per streaming-query lineage / sync consumer
    forever. Only prune app ids that will never present a batch again
    — a pruned app replaying an old batch id would re-append it
    (exactly-once holds per RETAINED token). Sync consumers should be
    retired with ``unregister_corpus_consumer`` on the corpus side as
    well, so they also stop pinning vacuum retention."""
    apps = {str(a) for a in apps}

    def mutate(fresh: dict):
        meta = dict(fresh["meta"])
        meta["txn"] = {
            k: v for k, v in meta.get("txn", {}).items() if k not in apps
        }
        return fresh["tables"], meta

    return commit_with_retry(root, mutate, op="prune-txn")


def history(root: str) -> list[dict]:
    """Audit view of the store's commit history, oldest first: for
    each version, which tables gained or lost generations relative to
    its predecessor — the what-changed trail takedowns/compliance
    reviews read (pair with ``version=`` time travel to replay any
    retained snapshot). Entries for versions whose manifest files were
    vacuumed away after a :func:`checkpoint_manifest_log` come from
    the checkpoint record; newer entries are diffed from the live
    manifest files. Unreadable (mid-write) files are skipped. Returns
    ``[{"version", "op", "added": {table: [gen,...]}, "removed":
    {...}}]``."""
    chk = _newest_checkpoint(root)
    out: list[dict] = list(chk["entries"]) if chk else []
    prev: dict = (
        {t: set(ks) for t, ks in chk["state"].items()} if chk else {}
    )
    upto = int(chk["upto"]) if chk else 0
    for name, m in _list_manifests(root):
        if m is None:
            continue
        if int(m.get("version", -1)) <= upto:
            continue  # already summarized by the checkpoint
        cur = _gen_sets(m)
        out.append(_diff_entry(prev, cur, m))
        prev = cur
    return out


def retention_delta(root: str, keep_small: int, keep_large: int) -> dict:
    """What a LARGER vacuum keep-window retains beyond a smaller one —
    the cost accounting behind "this consumer's cursor floor is
    pinning X manifests / Y bytes" (:func:`..sources.corpusstore.
    consumer_pin_cost`). Both windows follow :func:`vacuum`'s rule
    (the last ``keep`` readable manifests; data generations referenced
    by any kept manifest are live). Returns the manifests and
    ``table/gen=N`` directories retained ONLY by the larger window,
    with their on-disk byte total — i.e. exactly what a vacuum could
    reclaim if the keep window shrank from ``keep_large`` to
    ``keep_small`` (age floors aside). Read-only: one manifest-log
    listing + a stat walk of the delta generations."""
    readable = [(n, m) for n, m in _list_manifests(root) if m is not None]

    def live(keep: int):
        names = {n for n, _ in readable[-max(1, int(keep)):]}
        gens: dict[str, set[str]] = {}
        for name, m in readable:
            if name not in names:
                continue
            for table, mapping in m.get("tables", {}).items():
                s = gens.setdefault(table, set())
                for gen_list in mapping.values():
                    s.update(gen_list)
        return names, gens

    nm_s, g_s = live(keep_small)
    nm_l, g_l = live(keep_large)
    extra_gens: list[str] = []
    nbytes = 0
    local = local_path(root)
    for table in sorted(g_l):
        for gen in sorted(g_l[table] - g_s.get(table, set())):
            extra_gens.append(f"{table}/{gen}")
            gdir = os.path.join(local, table, gen)
            for dirpath, _dirs, files in os.walk(gdir):
                for f in files:
                    try:
                        nbytes += os.path.getsize(os.path.join(dirpath, f))
                    except OSError:
                        pass
    return {
        "manifests": sorted(nm_l - nm_s),
        "gens": extra_gens,
        "bytes": int(nbytes),
    }


def _entry_age(path: str) -> float:
    """Seconds since ``path`` was last modified (``inf`` when gone)."""
    import time

    try:
        return max(0.0, time.time() - os.path.getmtime(path))
    except OSError:
        return float("inf")


def vacuum(
    root: str,
    *,
    keep_manifests: int = 2,
    min_age_seconds: float = 3600.0,
) -> dict:
    """Garbage-collect data generations referenced by NONE of the kept
    manifest versions, plus superseded manifest files. Orphans of
    crashed writers and generations superseded by compaction/rebuild
    are reclaimed here — never inline, so a reader pinned to any kept
    manifest keeps every directory it can name.

    The keep window is the last ``keep_manifests`` *readable*
    manifests — unreadable (torn) files never count toward it, so the
    live set can never be emptied by a dead writer's debris; torn
    manifest files are themselves reclaimed as orphans once past the
    age floor. Vacuum refuses to run when NO readable manifest exists
    (nothing proves what is live, so nothing may be deleted).

    ``min_age_seconds`` is the misuse guard (default 1 h, like Delta's
    retention floor): a manifest committed more recently than the
    floor is always kept — so a reader that just pinned a snapshot
    survives a concurrent default vacuum even if ``keep_manifests``
    has moved past its version — and an unreferenced data directory
    younger than the floor is left alone (it may be an in-flight
    writer's pre-commit generation). Pass ``min_age_seconds=0`` for
    immediate reclamation when you can PROVE no reader or writer is in
    flight. CommitStore-backed logs report record ages through the
    ``age_seconds`` timestamp hook (S3/GCS LastModified); a backend
    that returns None (no timestamps) counts its records as age 0
    (protected) until the floor is explicitly waived — the default
    vacuum therefore actually reclaims on timestamped object-store
    backends and degrades safe on the rest. Superseded log checkpoints
    (see :func:`checkpoint_manifest_log`) are reclaimed too — only the
    newest is kept. Returns
    ``{"removed_gens": [...], "removed_manifests": [...]}``."""
    if keep_manifests < 1:
        raise ValueError("keep_manifests must be >= 1")
    local = local_path(root)
    manifests = _list_manifests(root)
    be = _backend(root)

    def _age(name: str) -> float:
        if be is not None:
            a = be.age_seconds(name)
            return 0.0 if a is None else float(a)
        return _entry_age(os.path.join(_mdir(root), name))

    readable = [(n, m) for n, m in manifests if m is not None]
    if not readable:
        reject_legacy_store(root)
        raise FileNotFoundError(
            f"no readable manifest for {root} — refusing to vacuum a "
            "store whose live set cannot be established"
        )
    keep_names = {n for n, _ in readable[-keep_manifests:]}
    if min_age_seconds > 0:
        keep_names.update(n for n, _ in manifests if _age(n) < min_age_seconds)
    live: dict[str, set[str]] = {}
    known_tables: set[str] = set()
    for name, m in readable:
        known_tables.update(m.get("tables", {}))
        if name not in keep_names:
            continue
        for table, mapping in m.get("tables", {}).items():
            gens = live.setdefault(table, set())
            for gen_list in mapping.values():
                gens.update(gen_list)
    removed_gens: list[str] = []
    for entry in os.listdir(local):
        tdir = os.path.join(local, entry)
        if entry == MANIFEST_DIR or not os.path.isdir(tdir):
            continue
        # only sweep directories that look like tables (hold gen= dirs)
        gen_entries = [e for e in os.listdir(tdir) if e.startswith("gen=")]
        if not gen_entries and entry not in known_tables:
            continue
        for gen in gen_entries:
            if gen in live.get(entry, set()):
                continue
            gdir = os.path.join(tdir, gen)
            if min_age_seconds > 0 and _entry_age(gdir) < min_age_seconds:
                continue  # possibly an in-flight writer's pre-commit gen
            shutil.rmtree(gdir)
            removed_gens.append(os.path.join(entry, gen))
    removed_manifests = []
    for name, _ in manifests:
        if name in keep_names:
            continue
        if be is not None:
            be.remove(name)
        else:
            os.remove(os.path.join(_mdir(root), name))
        removed_manifests.append(name)
    # superseded log checkpoints: the newest subsumes every older one
    chks = _checkpoint_names(root)
    for name in chks[:-1]:
        if min_age_seconds > 0 and _age(name) < min_age_seconds:
            continue
        if be is not None:
            be.remove(name)
        else:
            os.remove(os.path.join(_mdir(root), name))
        removed_manifests.append(name)
    if be is None and os.path.isdir(_mdir(root)):
        # hidden temp files of dead writers (commit publishes by link)
        # and reclaim locks orphaned by a crash inside the torn-slot
        # critical section (commit_manifest)
        for entry in os.listdir(_mdir(root)):
            tpath = os.path.join(_mdir(root), entry)
            if (
                entry.startswith(".tmp-") or entry.endswith(".reclaim")
            ) and (
                min_age_seconds <= 0 or _entry_age(tpath) >= min_age_seconds
            ):
                os.remove(tpath)
    return {
        "removed_gens": sorted(removed_gens),
        "removed_manifests": removed_manifests,
    }
