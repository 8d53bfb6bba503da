"""Manifest-committed store layout (operators/manifestfs.py): the
object-store-safe seam. What these tests pin, per the design contract:

- ZERO python-side renames anywhere in the manifest maintenance path
  (commit is an O_CREAT|O_EXCL create; data dirs are immutable);
- every mutation is ONE atomic commit: a crash before it leaves the
  store serving its old content bit-exactly, the retry runs cleanly
  (appends exactly once, deletes fully — no double-applied deltas),
  and vacuum reclaims the orphan generations;
- loaded handles PIN the snapshot they opened: compaction, append,
  delete, and whole-store rebuild committing later never change what
  a pinned reader serves;
- a whole-store rebuild is observed fully-old or fully-new, never
  mixed (the one-commit cutover);
- delete is bit-equal to a fresh build, delete+append == union
  build, compaction purges;
- stores left by the retired in-place rename layout are refused with a
  ValueError, never read or written in place.
"""

import os

import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import annindex as A
from auto_data_linkage_spark.operators import graph as G
from auto_data_linkage_spark.operators import lexindex as L
from auto_data_linkage_spark.operators import manifestfs as M
from auto_data_linkage_spark.operators.retrieval import (
    query_terms_from_docs,
)


# r16 test-tier split: this module is a lifecycle-matrix / property /
# full-catalog sweep — cost is a matrix-sized multiple of a unit test,
# so it runs in the exhaustive tier (pytest -m exhaustive), not the
# default wall-budgeted gate. See pytest.ini + OPTIMIZATION_r16.md.
pytestmark = pytest.mark.exhaustive


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )


@pytest.fixture(scope="module")
def probes(docs):
    return query_terms_from_docs(
        docs.orderBy("doc_id").limit(5), n_terms=6
    ).localCheckpoint(eager=False)


def _lex_topk(spark, path, probes, k=5):
    idx = L.load_lex_index(spark, path)
    return {
        (r.query_id, r.doc_id, r.bm25, r.rank)
        for r in L.lex_index_topk(idx, probes, k=k).collect()
    }


def _handle_topk(idx, probes, k=5):
    return {
        (r.query_id, r.doc_id, r.bm25, r.rank)
        for r in L.lex_index_topk(idx, probes, k=k).collect()
    }


# --------------------------------------------------------- manifestfs unit
def test_manifest_log_basics(tmp_path):
    root = str(tmp_path / "s")
    os.makedirs(root)
    m1 = M.init_manifest_store(root, tables={}, meta={"k": 1})
    assert m1["version"] == 1 and M.is_manifest_store(root)
    m2 = M.commit_manifest(
        root, tables={"t": {"": ["gen=1"]}}, meta={"k": 2},
        expected_version=1,
    )
    assert M.read_manifest(root)["meta"]["k"] == 2
    # losing the version race is loud, never silent
    with pytest.raises(M.ManifestConflictError):
        M.commit_manifest(root, tables={}, meta={}, expected_version=1)
    # a truncated newest manifest (writer died mid-write) is skipped
    with open(os.path.join(root, "_manifests", "v000000000003.json"), "w") as f:
        f.write('{"version": 3, "meta": {"k": 3}, "tab')  # torn JSON
    assert M.read_manifest(root)["version"] == m2["version"]


def test_next_gen_never_reuses_orphans(tmp_path):
    root = str(tmp_path / "s")
    os.makedirs(os.path.join(root, "t", "gen=7"))  # orphan of a dead writer
    assert M._gen_seq(M.next_gen(root, "t")) == 8
    assert M._gen_seq(M.next_gen(root, "missing_table")) == 1
    # nonce-suffixed orphans advance the sequence too
    os.makedirs(os.path.join(root, "t", "gen=9xdeadbeef"))
    assert M._gen_seq(M.next_gen(root, "t")) == 10


def test_history_reports_per_version_table_deltas(tmp_path):
    root = str(tmp_path / "s")
    os.makedirs(root)
    M.init_manifest_store(
        root, tables={"t": {"bucket=0": ["gen=1"]}}, meta={}
    )
    M.commit_manifest(
        root,
        tables={"t": {"bucket=0": ["gen=1", "gen=2"]}},
        meta={},
        expected_version=1,
    )
    M.commit_manifest(  # compaction: gen=1+2 replaced by gen=3
        root,
        tables={"t": {"bucket=0": ["gen=3"]}},
        meta={},
        expected_version=2,
    )
    h = M.history(root)
    assert [e["version"] for e in h] == [1, 2, 3]
    assert h[0]["added"] == {"t": ["bucket=0/gen=1"]}
    assert h[1]["added"] == {"t": ["bucket=0/gen=2"]} and h[1]["removed"] == {}
    assert h[2]["added"] == {"t": ["bucket=0/gen=3"]}
    assert h[2]["removed"] == {"t": ["bucket=0/gen=1", "bucket=0/gen=2"]}


def test_vacuum_respects_kept_manifests(tmp_path):
    root = str(tmp_path / "s")
    for g in ("gen=1", "gen=2", "gen=3"):
        d = os.path.join(root, "t", g)
        os.makedirs(d)
        open(os.path.join(d, "x.parquet"), "w").close()
    M.init_manifest_store(root, tables={"t": {"": ["gen=1"]}}, meta={})
    M.commit_manifest(
        root, tables={"t": {"": ["gen=2"]}}, meta={}, expected_version=1
    )
    M.commit_manifest(
        root, tables={"t": {"": ["gen=3"]}}, meta={}, expected_version=2
    )
    out = M.vacuum(root, keep_manifests=2, min_age_seconds=0)
    # gen=1 is referenced only by v1 (dropped); gen=2/3 by kept v2/v3
    assert out["removed_gens"] == [os.path.join("t", "gen=1")]
    assert out["removed_manifests"] == ["v000000000001.json"]
    assert os.path.isdir(os.path.join(root, "t", "gen=2"))
    assert os.path.isdir(os.path.join(root, "t", "gen=3"))


def _torn(root, version):
    p = os.path.join(root, "_manifests", f"v{version:012d}.json")
    with open(p, "w") as f:
        f.write('{"version": %d, "meta": {}, "tab' % version)  # torn JSON
    return p


def test_vacuum_keep_window_counts_only_readable_manifests(tmp_path):
    """A torn newest manifest (dead writer) must never empty the live
    set: with keep_manifests=1 the kept window is the last READABLE
    manifest, so the store's data generations survive and the torn
    file itself is reclaimed as an orphan."""
    root = str(tmp_path / "s")
    for g in ("gen=1", "gen=2"):
        d = os.path.join(root, "t", g)
        os.makedirs(d)
        open(os.path.join(d, "x.parquet"), "w").close()
    M.init_manifest_store(root, tables={"t": {"": ["gen=1"]}}, meta={})
    M.commit_manifest(
        root, tables={"t": {"": ["gen=2"]}}, meta={}, expected_version=1
    )
    _torn(root, 3)
    out = M.vacuum(root, keep_manifests=1, min_age_seconds=0)
    # v2 (last readable) is kept, so gen=2 lives; v1's gen=1 + the torn
    # v3 are reclaimed — the store still serves
    assert os.path.isdir(os.path.join(root, "t", "gen=2"))
    assert out["removed_gens"] == [os.path.join("t", "gen=1")]
    assert set(out["removed_manifests"]) == {
        "v000000000001.json", "v000000000003.json"
    }
    assert M.read_manifest(root)["version"] == 2


def test_vacuum_refuses_when_no_manifest_is_readable(tmp_path):
    root = str(tmp_path / "s")
    d = os.path.join(root, "t", "gen=1")
    os.makedirs(d)
    open(os.path.join(d, "x.parquet"), "w").close()
    os.makedirs(os.path.join(root, "_manifests"))
    _torn(root, 1)
    with pytest.raises(FileNotFoundError, match="refusing to vacuum"):
        M.vacuum(root, keep_manifests=1, min_age_seconds=0)
    assert os.path.isdir(d)  # nothing was deleted


def test_commit_reclaims_a_torn_slot_instead_of_wedging(tmp_path):
    """A torn file occupying the next version name (pre-link-era
    writer died mid-write) must not wedge the store: readers skip it,
    so the retry re-commits the same version — the commit detects the
    unreadable occupant, reclaims the slot, and wins it."""
    root = str(tmp_path / "s")
    os.makedirs(root)
    M.init_manifest_store(root, tables={}, meta={"k": 1})
    _torn(root, 2)
    assert M.read_manifest(root)["version"] == 1  # torn v2 is invisible
    m = M.commit_manifest(
        root, tables={"t": {"": ["gen=1"]}}, meta={"k": 2},
        expected_version=1,
    )
    assert m["version"] == 2
    assert M.read_manifest(root)["meta"]["k"] == 2
    # a COMPLETE occupant is a real concurrent winner: still loud
    with pytest.raises(M.ManifestConflictError):
        M.commit_manifest(root, tables={}, meta={}, expected_version=1)


def test_commit_never_exposes_a_partial_manifest(tmp_path):
    """The posix publish is link-of-fully-written-temp: at no point
    does a v*.json name exist with incomplete content, and a dead
    writer's residue is a hidden temp file the listing ignores."""
    root = str(tmp_path / "s")
    os.makedirs(root)
    M.init_manifest_store(root, tables={}, meta={})
    mdir = os.path.join(root, "_manifests")
    # simulate a writer that died after writing its temp file but
    # before the link: only the hidden temp remains
    with open(os.path.join(mdir, ".tmp-deadbeef"), "w") as f:
        f.write('{"version": 2, "meta": {}, "tables": {}}')
    assert M.read_manifest(root)["version"] == 1  # invisible to readers
    # vacuum sweeps the residue once past the age floor
    M.vacuum(root, keep_manifests=1, min_age_seconds=0)
    assert not os.path.exists(os.path.join(mdir, ".tmp-deadbeef"))


def test_default_vacuum_protects_a_just_pinned_reader(tmp_path):
    """The min-age floor (default 1 h): a reader that just pinned an
    old version survives a default vacuum even when keep_manifests has
    moved past it — nothing younger than the floor is reclaimed."""
    root = str(tmp_path / "s")
    for g in ("gen=1", "gen=2", "gen=3"):
        d = os.path.join(root, "t", g)
        os.makedirs(d)
        open(os.path.join(d, "x.parquet"), "w").close()
    M.init_manifest_store(root, tables={"t": {"": ["gen=1"]}}, meta={})
    M.commit_manifest(
        root, tables={"t": {"": ["gen=2"]}}, meta={}, expected_version=1
    )
    M.commit_manifest(
        root, tables={"t": {"": ["gen=3"]}}, meta={}, expected_version=2
    )
    pinned = M.read_manifest(root, version=1)  # a just-pinned reader
    out = M.vacuum(root, keep_manifests=1)  # default min_age_seconds
    assert out["removed_gens"] == [] and out["removed_manifests"] == []
    # the pinned snapshot still serves bit-exactly
    assert M.table_paths(root, "t", pinned) == [
        os.path.join(root, "t", "gen=1")
    ]
    assert os.path.isdir(os.path.join(root, "t", "gen=1"))
    # the explicit override reclaims immediately (provable quiescence)
    out = M.vacuum(root, keep_manifests=1, min_age_seconds=0)
    assert os.path.join("t", "gen=1") in out["removed_gens"]


def test_default_vacuum_spares_young_orphan_generations(tmp_path):
    """An unreferenced gen dir younger than the floor may be an
    in-flight writer's pre-commit data — the default vacuum leaves it;
    min_age_seconds=0 reclaims it."""
    root = str(tmp_path / "s")
    live = os.path.join(root, "t", "gen=1")
    orphan = os.path.join(root, "t", "gen=2xabcd1234")
    for d in (live, orphan):
        os.makedirs(d)
        open(os.path.join(d, "x.parquet"), "w").close()
    M.init_manifest_store(root, tables={"t": {"": ["gen=1"]}}, meta={})
    assert M.vacuum(root, keep_manifests=1)["removed_gens"] == []
    assert os.path.isdir(orphan)
    out = M.vacuum(root, keep_manifests=1, min_age_seconds=0)
    assert out["removed_gens"] == [os.path.join("t", "gen=2xabcd1234")]


def test_commit_with_retry_merges_with_interleaved_commit(tmp_path):
    """Optimistic delta commits: losing the version race re-reads the
    fresh snapshot and merges — the final manifest carries BOTH
    writers' generations."""
    root = str(tmp_path / "s")
    os.makedirs(root)
    M.init_manifest_store(root, tables={}, meta={})
    state = {"interleaved": False}

    def mutate(fresh):
        if not state["interleaved"]:
            state["interleaved"] = True
            # a competing delta writer commits first
            M.commit_manifest(
                root,
                tables=M.add_gens(fresh["tables"], "t", [""], "gen=1xaaaa"),
                meta=fresh["meta"],
                expected_version=fresh["version"],
            )
        return M.add_gens(fresh["tables"], "t", [""], "gen=2xbbbb"), fresh["meta"]

    final = M.commit_with_retry(root, mutate)
    assert final["version"] == 3
    assert final["tables"]["t"][""] == ["gen=1xaaaa", "gen=2xbbbb"]


def test_next_gen_nonce_prevents_directory_collision(tmp_path):
    """Two writers that race the disk listing still get DISTINCT
    generation directories (the nonce), so neither can mix files into
    the other's immutable generation."""
    root = str(tmp_path / "s")
    os.makedirs(os.path.join(root, "t"))
    g1, g2 = M.next_gen(root, "t"), M.next_gen(root, "t")
    assert g1 != g2
    assert M._gen_seq(g1) == M._gen_seq(g2) == 1
    os.makedirs(os.path.join(root, "t", g1))
    assert M._gen_seq(M.next_gen(root, "t")) == 2


def test_append_survives_losing_version_race(
    spark, docs, probes, tmp_path, monkeypatch
):
    """A streaming append that loses the manifest version race to a
    concurrent commit must MERGE and land (the sink keeps running
    through maintenance), equal to a serial union build."""
    out = str(tmp_path / "lex")
    a = docs.where(F.col("doc_id") % 3 == 0)
    b = docs.where(F.col("doc_id") % 3 == 1)
    L.build_lex_index(a, out, n_buckets=4)

    real = M.commit_manifest
    state = {"stolen": False}

    def racing(path, *, tables, meta, expected_version, **kw):
        if not state["stolen"]:
            state["stolen"] = True
            # a competing no-op commit wins this version first
            cur = M.read_manifest(out)
            real(out, tables=cur["tables"], meta=cur["meta"],
                 expected_version=expected_version)
        return real(path, tables=tables, meta=meta,
                    expected_version=expected_version)

    monkeypatch.setattr(M, "commit_manifest", racing)
    L.append_lex_index(b, out)
    monkeypatch.undo()

    assert M.read_manifest(out)["version"] == 3  # steal + merged append
    ref = str(tmp_path / "ref")
    L.build_lex_index(a.unionByName(b), ref, n_buckets=4)
    assert _lex_topk(spark, out, probes) == _lex_topk(spark, ref, probes)


def test_append_refuses_merge_across_concurrent_rebuild(
    spark, docs, tmp_path, monkeypatch
):
    """The one non-mergeable race: a rebuild changing structural
    parameters lands between the append's read and its commit — the
    delta was tokenized/bucketed against the OLD index, so the merge
    must refuse loudly instead of stranding rows in unprobed buckets."""
    out = str(tmp_path / "lex")
    a = docs.where(F.col("doc_id") % 3 == 0)
    b = docs.where(F.col("doc_id") % 3 == 1)
    L.build_lex_index(a, out, n_buckets=4)

    real = M.commit_manifest
    state = {"stolen": False}

    def racing(path, *, tables, meta, expected_version, **kw):
        if not state["stolen"]:
            state["stolen"] = True
            cur = M.read_manifest(out)
            changed = dict(cur["meta"])
            changed["n_buckets"] = 8  # a rebuild re-bucketed the store
            real(out, tables=cur["tables"], meta=changed,
                 expected_version=expected_version)
        return real(path, tables=tables, meta=meta,
                    expected_version=expected_version)

    monkeypatch.setattr(M, "commit_manifest", racing)
    with pytest.raises(M.ManifestConflictError, match="n_buckets"):
        L.append_lex_index(b, out)


# ------------------------------------------------------- zero renames
def test_manifest_lifecycle_performs_zero_python_renames(
    spark, docs, probes, tmp_path, monkeypatch
):
    """The whole point of the layout: build, append, delete, compact,
    rebuild, load, and vacuum must never call a python-side rename
    (os.rename / os.replace / shutil.move) — the operations an object
    store cannot do atomically. (Part-file placement inside a gen dir
    is Spark's committer, pluggable for cloud stores.)"""
    import shutil as _sh

    calls = []

    def spy(fn):
        def inner(src, dst, *a, **kw):
            calls.append((src, dst))
            return fn(src, dst, *a, **kw)

        return inner

    monkeypatch.setattr(os, "rename", spy(os.rename))
    monkeypatch.setattr(os, "replace", spy(os.replace))
    monkeypatch.setattr(_sh, "move", spy(_sh.move))

    out = str(tmp_path / "lex")
    half = docs.limit(60)
    L.build_lex_index(half, out, n_buckets=4)
    L.append_lex_index(docs.limit(80).subtract(half), out)
    L.delete_from_lex_index(
        spark, out, half.select("doc_id").limit(10)
    )
    L.compact_lex_index(spark, out, max_files_per_bucket=1)
    L.rebuild_lex_index(docs.limit(50), out, n_buckets=2)
    _lex_topk(spark, out, probes)
    L.vacuum_lex_index(out, keep_manifests=1, min_age_seconds=0)
    assert calls == [], f"python-side renames in manifest path: {calls[:5]}"


def test_full_lifecycle_on_memory_commit_log(spark, docs, probes, tmp_path):
    """The manifest log runs against PURE object-store semantics: with
    MemoryCommitStore (conditional-put map, the layout.py stand-in for
    S3 If-None-Match / GCS generation-match) as the commit backend, the
    ENTIRE lifecycle — build, append, atomic delete, compaction,
    rebuild, time travel, history, vacuum — works with no _manifests
    directory on disk at all. Data generations remain plain parquet
    wherever the root points (Spark's storage layer)."""
    from auto_data_linkage_spark.sources.layout import MemoryCommitStore

    out = str(tmp_path / "lex")
    M.use_commit_log(out, MemoryCommitStore())
    try:
        a = docs.where(F.col("doc_id") % 2 == 0)
        b = docs.where(F.col("doc_id") % 2 == 1)
        L.build_lex_index(a, out, n_buckets=4)
        L.append_lex_index(b, out)
        L.delete_from_lex_index(
            spark, out, a.select("doc_id").limit(20)
        )
        L.compact_lex_index(spark, out, max_files_per_bucket=1)
        assert not os.path.isdir(os.path.join(out, "_manifests"))

        # head == the same lifecycle on a posix-log store, bit-exact
        ref = str(tmp_path / "ref")
        L.build_lex_index(a, ref, n_buckets=4)
        L.append_lex_index(b, ref)
        L.delete_from_lex_index(
            spark, ref, a.select("doc_id").limit(20)
        )
        assert _lex_topk(spark, out, probes) == _lex_topk(
            spark, ref, probes
        )

        # time travel + history + vacuum ride the same backend
        assert _handle_topk(
            L.load_lex_index(spark, out, version=2), probes
        ) == _handle_topk(L.load_lex_index(spark, ref, version=2), probes)
        assert [e["version"] for e in M.history(out)] == [1, 2, 3, 4]
        v = L.vacuum_lex_index(out, keep_manifests=1, min_age_seconds=0)
        assert v["removed_manifests"]
        assert _lex_topk(spark, out, probes) == _lex_topk(
            spark, ref, probes
        )
        assert not os.path.isdir(os.path.join(out, "_manifests"))
    finally:
        M.clear_commit_log(out)


# ----------------------------------------------- crash-injection matrix
def _crash_commit(monkeypatch):
    """Make the NEXT manifest commit die (simulating a writer crash at
    the atomic point — everything before it is uncommitted data)."""
    real = M.commit_manifest
    state = {"armed": True}

    def crashing(path, **kw):
        if state["armed"]:
            state["armed"] = False
            raise OSError("injected crash before the manifest commit")
        return real(path, **kw)

    monkeypatch.setattr(M, "commit_manifest", crashing)
    return state


def test_append_crash_is_invisible_then_retries_exactly_once(
    spark, docs, probes, tmp_path, monkeypatch
):
    out = str(tmp_path / "lex")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    L.build_lex_index(a, out, n_buckets=4)
    want_old = _lex_topk(spark, out, probes)
    v0 = M.read_manifest(out)["version"]

    _crash_commit(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        L.append_lex_index(b, out)
    monkeypatch.undo()

    # uncommitted: loads serve the OLD index bit-exactly
    assert M.read_manifest(out)["version"] == v0
    assert _lex_topk(spark, out, probes) == want_old

    # retry appends EXACTLY once (no duplicate postings from the
    # orphaned attempt), equal to a union build
    L.append_lex_index(b, out)
    ref = str(tmp_path / "ref")
    L.build_lex_index(a.unionByName(b), ref, n_buckets=4)
    assert _lex_topk(spark, out, probes) == _lex_topk(spark, ref, probes)
    assert (
        L.load_lex_index(spark, out).meta["n_docs"]
        == a.count() + b.count()
    )

    # the orphan generations are reclaimed by vacuum
    removed = L.vacuum_lex_index(out, keep_manifests=1, min_age_seconds=0)["removed_gens"]
    assert removed, "orphan gens of the crashed append were not swept"
    assert _lex_topk(spark, out, probes) == _lex_topk(spark, ref, probes)


def test_delete_crash_is_fully_atomic_then_retries_fully(
    spark, docs, probes, tmp_path, monkeypatch
):
    """Manifest delete = negative df deltas + tombstones + meta in ONE
    commit: a crash leaves NOTHING visible (no partial artifacts at
    all), and the retry deletes cleanly to fresh-build bit-equality."""
    out = str(tmp_path / "lex")
    L.build_lex_index(docs, out, n_buckets=4)
    victims = docs.where(F.col("doc_id") % 3 == 0).select("doc_id")
    want_old = _lex_topk(spark, out, probes)
    meta0 = M.read_manifest(out)["meta"]

    _crash_commit(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        L.delete_from_lex_index(spark, out, victims)
    monkeypatch.undo()

    # nothing visible: no tombstones, no negative df, meta untouched
    idx = L.load_lex_index(spark, out)
    assert idx.tombstones is None
    assert idx.terms.where(F.col("df") < 0).count() == 0
    assert idx.meta == meta0
    assert _lex_topk(spark, out, probes) == want_old

    # retry deletes FULLY (nothing of the crashed attempt is visible)
    # and is bit-equal to a fresh build
    out2 = L.delete_from_lex_index(spark, out, victims)
    assert out2["deleted"] == victims.count()
    fresh = str(tmp_path / "fresh")
    L.build_lex_index(
        docs.where(F.col("doc_id") % 3 != 0), fresh, n_buckets=4
    )
    assert _lex_topk(spark, out, probes) == _lex_topk(spark, fresh, probes)


def test_compact_and_rebuild_crash_keep_old_store_serving(
    spark, docs, probes, tmp_path, monkeypatch
):
    out = str(tmp_path / "lex")
    a = docs.where(F.col("doc_id") % 2 == 0)
    L.build_lex_index(a, out, n_buckets=4)
    L.append_lex_index(docs.where(F.col("doc_id") % 2 == 1), out)
    want = _lex_topk(spark, out, probes)
    v0 = M.read_manifest(out)["version"]

    _crash_commit(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        L.compact_lex_index(spark, out, max_files_per_bucket=1)
    monkeypatch.undo()
    assert M.read_manifest(out)["version"] == v0
    assert _lex_topk(spark, out, probes) == want

    _crash_commit(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        L.rebuild_lex_index(docs.limit(30), out, n_buckets=2)
    monkeypatch.undo()
    assert _lex_topk(spark, out, probes) == want

    # retries complete; compaction result identical, rebuild == fresh
    L.compact_lex_index(spark, out, max_files_per_bucket=1)
    assert _lex_topk(spark, out, probes) == want
    L.rebuild_lex_index(docs.limit(30), out, n_buckets=2)
    fresh = str(tmp_path / "fresh")
    L.build_lex_index(docs.limit(30), fresh, n_buckets=2)
    assert _lex_topk(spark, out, probes) == _lex_topk(spark, fresh, probes)


def test_ann_delete_crash_atomic_no_stat_drift(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ANN n_rows cannot drift across a crashed delete: tombstones and
    meta are one commit, so the retry deletes fully."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    out = str(tmp_path / "ann")
    meta0 = A.build_ann_index(vecs, out, m=4, n_codewords=8)
    victims = [r.vec_id for r in vecs.where(F.col("vec_id") % 9 == 0)
               .select("vec_id").collect()]

    _crash_commit(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        A.delete_from_ann_index(spark, out, victims)
    monkeypatch.undo()

    idx = A.load_ann_index(spark, out)
    assert idx.tombstones is None and idx.meta["n_rows"] == meta0["n_rows"]

    again = A.delete_from_ann_index(spark, out, victims)
    assert again["deleted"] == len(victims)  # retry deletes FULLY
    assert again["meta"]["n_rows"] == meta0["n_rows"] - len(victims)


# -------------------------------------------------- generation pinning
def test_reader_pins_its_generation_across_maintenance(
    spark, docs, probes, tmp_path
):
    """VERDICT r10 #2: a reader loaded before compact/rebuild still
    probes its snapshot bit-exactly after the cutover; a fresh load
    sees the new store. Vacuum with keep_manifests=1 then reclaims the
    old generations without disturbing current readers."""
    out = str(tmp_path / "lex")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    L.build_lex_index(a, out, n_buckets=4)
    pinned = L.load_lex_index(spark, out)
    want_pinned = _handle_topk(pinned, probes)

    L.append_lex_index(b, out)
    L.compact_lex_index(spark, out, max_files_per_bucket=1)
    assert _handle_topk(pinned, probes) == want_pinned

    L.rebuild_lex_index(b, out, n_buckets=2)  # whole-store cutover
    assert _handle_topk(pinned, probes) == want_pinned
    # fresh load = fully-new, never a mix
    fresh = str(tmp_path / "fresh")
    L.build_lex_index(b, fresh, n_buckets=2)
    assert _lex_topk(spark, out, probes) == _lex_topk(spark, fresh, probes)

    L.vacuum_lex_index(out, keep_manifests=1, min_age_seconds=0)
    assert _lex_topk(spark, out, probes) == _lex_topk(spark, fresh, probes)


def test_ann_reader_pins_across_rebuild(spark, sf_dir, tmp_path):
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    queries = vecs.orderBy("vec_id").limit(5)
    out = str(tmp_path / "ann")
    A.build_ann_index(vecs.where(F.col("vec_id") % 2 == 0), out,
                      m=4, n_codewords=8)
    pinned = A.load_ann_index(spark, out)

    def topk(idx):
        return {
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in A.ann_index_topk(idx, queries, k=5, nprobe=2).collect()
        }

    want = topk(pinned)
    A.rebuild_ann_index(vecs, out, m=4, n_codewords=8)
    assert topk(pinned) == want
    fresh = str(tmp_path / "fresh")
    A.build_ann_index(vecs, fresh, m=4, n_codewords=8)
    assert topk(A.load_ann_index(spark, out)) == topk(
        A.load_ann_index(spark, fresh)
    )
    # explicit time travel: version 1 == the pinned pre-rebuild handle
    assert topk(A.load_ann_index(spark, out, version=1)) == want


# ------------------------------------------------------- time travel
def test_time_travel_serves_historical_snapshots_bit_exactly(
    spark, docs, probes, tmp_path
):
    """Every committed manifest is immutable and names immutable
    directories, so version= replays ANY retained snapshot bit-exactly
    — the pre-delete index for an audit, the pre-append index for a
    diff — while the head keeps moving."""
    out = str(tmp_path / "lex")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    L.build_lex_index(a, out, n_buckets=4)  # v1
    v1_want = _lex_topk(spark, out, probes)
    L.append_lex_index(b, out)                                 # v2
    v2_want = _lex_topk(spark, out, probes)
    L.delete_from_lex_index(spark, out, a.select("doc_id"))    # v3

    assert _handle_topk(
        L.load_lex_index(spark, out, version=1), probes
    ) == v1_want
    assert _handle_topk(
        L.load_lex_index(spark, out, version=2), probes
    ) == v2_want
    # v3 head == fresh build without the deleted docs (delete parity)
    fresh = str(tmp_path / "fresh")
    L.build_lex_index(b, fresh, n_buckets=4)
    assert _lex_topk(spark, out, probes) == _lex_topk(spark, fresh, probes)

    # vacuumed history raises with the retention hint; retained works
    L.vacuum_lex_index(out, keep_manifests=1, min_age_seconds=0)
    with pytest.raises(FileNotFoundError, match="vacuum"):
        L.load_lex_index(spark, out, version=1)
    assert _lex_topk(spark, out, probes) == _lex_topk(spark, fresh, probes)


def _legacy_store(root, kind):
    """A directory laid out like a store of the retired rename layout:
    the index side file and live bucket/cell dirs, or the linker's
    per-batch snapshot dirs — and no manifest log."""
    marker = {
        "lex": ["index.json", "postings/bucket=0", "terms/bucket=0"],
        "ann": ["index.json", "coded/cell=0", "centroids"],
        "edges": ["bucket=0", "_tombstones"],
        "linker": ["batch=0", "batch=1"],
    }[kind]
    for entry in marker:
        path = os.path.join(root, entry)
        if entry.endswith(".json"):
            os.makedirs(root, exist_ok=True)
            with open(path, "w") as f:
                f.write('{"version": 1}')
        else:
            os.makedirs(path)
            open(os.path.join(path, "part-00000.parquet"), "w").close()


@pytest.mark.parametrize("kind", ["lex", "ann", "edges", "linker"])
def test_legacy_rename_layout_stores_are_refused(
    spark, docs, sf_dir, tmp_path, kind
):
    """Every entry point on a store written in the retired rename layout
    raises ValueError naming the path and the remedy, and leaves the
    directory untouched: no manifest log, and no data generation from a
    build aimed at it."""
    from auto_data_linkage_spark.streaming.linkage import StreamingLinker

    root = str(tmp_path / kind)
    _legacy_store(root, kind)
    before = sorted(os.walk(root))
    batch = docs.limit(3)
    pages = spark.createDataFrame(
        [("http://a.com/1", '<a href="http://b.com/x">b</a>')],
        "url string, html string",
    )
    vecs = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding", "label")
        .limit(40)
    )
    ops = {
        "lex": [
            lambda: L.build_lex_index(batch, root, n_buckets=2),
            lambda: L.load_lex_index(spark, root),
            lambda: L.load_lex_index(spark, root, version=1),
            lambda: L.append_lex_index(batch, root),
            lambda: L.delete_from_lex_index(spark, root, [1]),
            lambda: L.compact_lex_index(spark, root),
            lambda: L.rebuild_lex_index(batch, root),
            lambda: L.vacuum_lex_index(root),
            lambda: L.lex_index_sink(root, app_id="q")(batch, 0),
        ],
        "ann": [
            lambda: A.build_ann_index(vecs, root, m=4, n_codewords=8),
            lambda: A.load_ann_index(spark, root),
            lambda: A.append_ann_index(batch, root),
            lambda: A.delete_from_ann_index(spark, root, [1]),
            lambda: A.compact_ann_index(spark, root),
            lambda: A.rebuild_ann_index(batch, root),
            lambda: A.vacuum_ann_index(root),
            lambda: A.ann_index_sink(root)(batch, 0),
        ],
        "edges": [
            lambda: G.load_edges(spark, root),
            lambda: G.edge_store_sink(root)(pages, 0),
            lambda: G.init_edge_store(root),
            lambda: G.delete_domains_from_edge_store(spark, root, ["a.com"]),
            lambda: G.compact_edge_store(spark, root),
            lambda: G.vacuum_edge_store(root),
            lambda: G.refresh_pagerank(spark, root),
        ],
        "linker": [
            lambda: StreamingLinker(None, root).process_batch(batch, 2),
            lambda: StreamingLinker(None, root).current_clusters(spark),
            lambda: StreamingLinker(None, root).vacuum(),
        ],
    }[kind]
    for op in ops:
        with pytest.raises(ValueError, match="rebuild it at a new path") as e:
            op()
        assert root in str(e.value)
    assert sorted(os.walk(root)) == before


def test_time_travel_edge_store_pre_takedown(spark, tmp_path):
    pages = [
        ("https://a.com/p", '<a href="https://spam.biz/x">s</a>'),
        ("https://spam.biz/p", '<a href="https://a.com/y">a</a>'),
    ]
    root = str(tmp_path / "edges")
    G.init_edge_store(root, n_buckets=2)                       # v1
    G.edge_store_sink(root, n_buckets=2)(
        spark.createDataFrame(pages, ["url", "html"]), 0
    )                                                          # v2
    G.delete_domains_from_edge_store(spark, root, ["spam.biz"])  # v3
    assert G.load_edges(spark, root).count() == 0
    # the crawl epoch before the takedown is still replayable
    assert G.load_edges(spark, root, version=2).count() == 2
    # refresh_hits scores the store (and its history) in one call
    assert G.refresh_hits(spark, root, iterations=2).count() == 0
    hist = {
        r.domain: (r.hub_scaled, r.auth_scaled)
        for r in G.refresh_hits(spark, root, iterations=2,
                                version=2).collect()
    }
    assert set(hist) == {"a.com", "spam.biz"}
    from auto_data_linkage_spark.operators.graph import hits

    want = {
        r.domain: (r.hub_scaled, r.auth_scaled)
        for r in hits(G.load_edges(spark, root, version=2),
                      iterations=2).collect()
    }
    assert hist == want


# ------------------------------------------------- semantics parity
def test_manifest_delete_then_append_equals_union_build(
    spark, docs, probes, tmp_path
):
    a = docs.where(F.col("doc_id") % 3 == 0)
    b = docs.where(F.col("doc_id") % 3 == 1)
    c = docs.where(F.col("doc_id") % 3 == 2)
    out = str(tmp_path / "lex")
    L.build_lex_index(a.unionByName(b), out, n_buckets=8)
    L.delete_from_lex_index(spark, out, b.select("doc_id"))
    L.append_lex_index(c, out)
    ref = str(tmp_path / "ref")
    L.build_lex_index(a.unionByName(c), ref, n_buckets=8)
    assert _lex_topk(spark, out, probes) == _lex_topk(spark, ref, probes)


def test_manifest_compaction_purges_and_drops_emptied_buckets(
    spark, docs, probes, tmp_path
):
    out = str(tmp_path / "lex")
    sub = docs.limit(40)
    L.build_lex_index(sub, out, n_buckets=2)
    L.delete_from_lex_index(spark, out, sub.select("doc_id"))
    L.compact_lex_index(spark, out, max_files_per_bucket=0)
    snap = M.read_manifest(out)
    # every bucket emptied by the purge vanished from the manifest
    assert snap["tables"]["postings"] == {}
    assert snap["tables"]["terms"] == {}
    assert _lex_topk(spark, out, probes) == set()


# -------------------------------------- streaming append into the index
def test_streaming_append_two_batches_restart_no_double_append(
    spark, docs, probes, tmp_path
):
    """VERDICT r10 #4, the crawl front door feeding the serving tier:
    stream batch 1 into the persisted index, STOP, restart the stream
    on the same checkpoint with batch 2 landed — the restart must
    process ONLY batch 2 (no double-append of batch 1), and the served
    top-k must be bit-equal to a one-shot union build."""
    base = docs.where(F.col("doc_id") < 100)
    b1 = docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 160))
    b2 = docs.where((F.col("doc_id") >= 160) & (F.col("doc_id") < 220))

    out = str(tmp_path / "lex_stream")
    L.build_lex_index(base, out, n_buckets=4)
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        q = (
            spark.readStream.schema(b1.schema)
            .parquet(landing)
            .writeStream.foreachBatch(L.lex_index_sink(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1.coalesce(1).write.mode("append").parquet(landing)
    run_stream()  # batch 1 in, stream stopped
    n_after_b1 = L.load_lex_index(spark, out).meta["n_docs"]
    assert n_after_b1 == base.count() + b1.count()

    b2.coalesce(1).write.mode("append").parquet(landing)
    run_stream()  # checkpoint restart: must append ONLY batch 2

    meta = L.load_lex_index(spark, out).meta
    assert meta["n_docs"] == base.count() + b1.count() + b2.count()

    ref = str(tmp_path / "ref")
    L.build_lex_index(
        base.unionByName(b1).unionByName(b2), ref, n_buckets=4
    )
    assert _lex_topk(spark, out, probes, k=10) == _lex_topk(
        spark, ref, probes, k=10
    )
    # exact stat parity with the one-shot build, not just top-k
    ref_meta = L.load_lex_index(spark, ref).meta
    assert (meta["n_docs"], meta["sum_dl"]) == (
        ref_meta["n_docs"], ref_meta["sum_dl"]
    )


def test_streaming_ann_append_restart_no_double_append(
    spark, sf_dir, tmp_path
):
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    base = vecs.where(F.col("vec_id") % 3 == 0)
    b1 = vecs.where(F.col("vec_id") % 3 == 1)
    b2 = vecs.where(F.col("vec_id") % 3 == 2)
    out = str(tmp_path / "ann_stream")
    A.build_ann_index(base, out, m=4, n_codewords=8)
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        q = (
            spark.readStream.schema(b1.schema)
            .parquet(landing)
            .writeStream.foreachBatch(A.ann_index_sink(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1.coalesce(1).write.mode("append").parquet(landing)
    run_stream()
    b2.coalesce(1).write.mode("append").parquet(landing)
    run_stream()  # restart: only batch 2

    idx = A.load_ann_index(spark, out)
    assert idx.meta["n_rows"] == vecs.count()
    # no duplicate coded rows from the restart
    assert idx.coded.count() == vecs.count()
    queries = vecs.orderBy("vec_id").limit(5)
    # reference: same base build (identical learned codebooks) grown by
    # plain batch appends — streamed ingestion must serve bit-equal
    ref = str(tmp_path / "ref")
    A.build_ann_index(base, ref, m=4, n_codewords=8)
    A.append_ann_index(b1, ref)
    A.append_ann_index(b2, ref)

    def topk(path):
        return {
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in A.ann_index_topk(
                A.load_ann_index(spark, path), queries, k=5, nprobe=2
            ).collect()
        }

    assert topk(out) == topk(ref)


def test_manifest_probe_scan_still_partition_prunes(
    spark, docs, probes, tmp_path
):
    """The generation indirection must not cost the on-disk pruning
    contract: a probe over a manifest-layout index still reads only
    the bucket=N partitions the query terms hash into (bucket stays a
    partition column under basePath=<table>, gen=N rides above it)."""
    out = str(tmp_path / "lex_pp")
    L.build_lex_index(docs, out, n_buckets=16)
    idx = L.load_lex_index(spark, out)
    plan = (
        L.lex_index_topk(idx, probes, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:200]
    assert "bucket" in seg and ("IN" in seg or "isnotnull" in seg)


def test_manifest_ann_coded_scan_still_partition_prunes(
    spark, sf_dir, tmp_path
):
    """Dense mirror of the probe-pruning pin: a cell filter over a
    manifest-layout coded table still prunes to the matching cell=N
    partitions under the gen= indirection."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    out = str(tmp_path / "ann_pp")
    A.build_ann_index(vecs, out, m=4, n_codewords=8)
    idx = A.load_ann_index(spark, out)
    one_cell = idx.coded.where(F.col("cell") == 0)
    plan = one_cell._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:160]


def test_edge_store_manifest_takedown_and_compaction(spark, tmp_path):
    pages = [
        ("https://a.com/p", '<a href="https://b.com/x">b</a>'
                            '<a href="https://c.com/y">c</a>'),
        ("https://b.com/p", '<a href="https://a.com/q">a</a>'),
        ("https://d.com/p", '<a href="https://spam.biz/s">s</a>'
                            '<a href="https://a.com/r">a</a>'),
        ("https://spam.biz/p", '<a href="https://d.com/u">d</a>'),
    ]
    df1 = spark.createDataFrame(pages[:2], ["url", "html"])
    df2 = spark.createDataFrame(pages[2:], ["url", "html"])
    root = str(tmp_path / "edges")
    G.init_edge_store(root, n_buckets=4)
    sink = G.edge_store_sink(root, n_buckets=4)
    sink(df1, 0)
    sink(df2, 1)
    assert G.load_edges(spark, root).count() == 6

    pinned = G.load_edges(spark, root)
    assert G.delete_domains_from_edge_store(
        spark, root, ["spam.biz"]
    ) == {"deleted": 1}
    masked = G.load_edges(spark, root)
    assert masked.count() == 4
    assert pinned.count() == 6  # snapshot pinned

    # refresh == pagerank over the filtered edges, bit-exact
    r1 = {(r.domain, r.rank_scaled)
          for r in G.refresh_pagerank(spark, root, iterations=3).collect()}
    r2 = {(r.domain, r.rank_scaled)
          for r in G.pagerank(masked, iterations=3).collect()}
    assert r1 == r2

    want = {(r.src_domain, r.dst_domain, r.n_links)
            for r in masked.collect()}
    G.compact_edge_store(spark, root, max_files_per_bucket=0)
    got = {(r.src_domain, r.dst_domain, r.n_links)
           for r in G.load_edges(spark, root).collect()}
    assert got == want
    v = G.vacuum_edge_store(root, keep_manifests=1, min_age_seconds=0)
    assert v["removed_gens"]
    assert {(r.src_domain, r.dst_domain, r.n_links)
            for r in G.load_edges(spark, root).collect()} == want
    # idempotent takedown
    assert G.delete_domains_from_edge_store(
        spark, root, ["spam.biz"]
    ) == {"deleted": 0}


def _site_pages(spark, lo, hi):
    rows = [
        (
            f"http://site{i % 7}.com/p{i}",
            f'<a href="http://site{(i + 1) % 7}.com/x">t</a> '
            f'<a href="http://site{(i + 3) % 7}.com/y">u</a>',
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, ["url", "html"])


def test_edge_store_domain_takedown(spark, tmp_path):
    """Takedowns are deltas: load_edges drops every edge touching a
    masked domain, the next refresh is BIT-IDENTICAL to PageRank over
    the filtered edge table, takedowns are idempotent, and compaction
    purges the masked edges physically without changing any read."""
    store = str(tmp_path / "edges_td")
    sink = G.edge_store_sink(store, n_buckets=2)
    for b in range(4):
        sink(_site_pages(spark, b * 20, (b + 1) * 20), b)

    full = G.load_edges(spark, store).localCheckpoint(eager=True)
    victims = ["site1.com", "site4.com"]
    out = G.delete_domains_from_edge_store(spark, store, victims)
    again = G.delete_domains_from_edge_store(spark, store, victims)
    assert out["deleted"] == 2 and again["deleted"] == 0

    kept = full.where(
        ~F.col("src_domain").isin(victims) & ~F.col("dst_domain").isin(victims)
    )
    masked = G.load_edges(spark, store)
    want_edges = sorted(map(tuple, kept.collect()))
    got = sorted(map(tuple, masked.collect()))
    assert got == want_edges and got  # non-trivially masked
    # authority refresh == pagerank over the filtered table, bit-exact
    pr_store = sorted(map(tuple, G.pagerank(masked, iterations=3).collect()))
    assert pr_store == sorted(
        map(tuple, G.pagerank(kept, iterations=3).collect())
    )
    assert not any(d in victims for d, _ in pr_store)

    # physical purge on compaction; reads unchanged
    summary = G.compact_edge_store(spark, store, max_files_per_bucket=0)
    assert summary["buckets_rewritten"] > 0
    assert sorted(map(tuple, G.load_edges(spark, store).collect())) == want_edges
    raw = M.read_table(spark, store, "edges", M.read_manifest(store))
    assert (
        raw.where(
            F.col("src_domain").isin(victims) | F.col("dst_domain").isin(victims)
        ).count()
        == 0
    )


# ------------------------------------------------- edge-case hardening
def test_delete_on_emptied_manifest_ann_index(spark, sf_dir, tmp_path):
    """A store whose coded table was emptied (delete-all, then a
    compaction that purged every cell) has NO live coded partitions;
    a further delete must not dereference the missing table — it types
    the tombstone mask from the stored schema string and reports 0."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    ).where(F.col("vec_id") < 64)
    out = str(tmp_path / "ann")
    A.build_ann_index(vecs, out, m=4, n_codewords=8)
    all_ids = vecs.select("vec_id")
    assert A.delete_from_ann_index(spark, out, all_ids)["deleted"] == 64
    A.compact_ann_index(spark, out, max_files_per_cell=0)
    snap = M.read_manifest(out)
    assert M.read_table(spark, out, "coded", snap) is None
    v = snap["version"]
    res = A.delete_from_ann_index(spark, out, [900001, 900002])
    assert res["deleted"] == 0
    # sequence-aware semantics: absent ids get NO new cut (a cut never
    # masks rows appended after it, so recording one would be pure
    # tombstone growth) and nothing commits — the point of the
    # original regression stands: no crash on the missing coded table
    assert M.read_manifest(out)["version"] == v
    # ...and appending those very ids later serves them (no stale mask)
    later = vecs.where(F.col("vec_id") < 2).withColumn(
        "vec_id", F.col("vec_id") + 900001
    )
    A.append_ann_index(later, out)
    idx = A.load_ann_index(spark, out)
    hits = A.ann_index_topk(idx, later, k=1, nprobe=4, exclude_self=False)
    assert {r.neighbor_id for r in hits.collect()} <= {900001, 900002}
    assert hits.count() > 0


def test_rebuild_rejects_unknown_kwargs(spark, sf_dir, tmp_path, docs):
    """rebuild_* takes the build parameters and nothing else: a
    ``layout=`` or any other unknown kwarg raises instead of being
    silently dropped."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    ).where(F.col("vec_id") < 200)
    aout = str(tmp_path / "ann")
    A.build_ann_index(vecs, aout, m=4, n_codewords=8)
    meta = A.rebuild_ann_index(
        vecs, aout, m=4, n_codewords=8
    )
    assert meta["n_rows"] == vecs.count()
    with pytest.raises(TypeError, match="layout"):
        A.rebuild_ann_index(vecs, aout, layout="manifest")

    lout = str(tmp_path / "lex")
    half = docs.limit(40)
    L.build_lex_index(half, lout, n_buckets=4)
    m2 = L.rebuild_lex_index(half, lout, n_buckets=2)
    assert m2["n_buckets"] == 2
    with pytest.raises(TypeError, match="layout"):
        L.rebuild_lex_index(half, lout, layout="manifest")
    with pytest.raises(TypeError, match="bogus"):
        L.rebuild_lex_index(half, lout, bogus=1)


# ---------------------------------------------- delete/append interleave
def test_lex_delete_racing_append_equals_serial_order(
    spark, docs, tmp_path, monkeypatch
):
    """A tombstone delete that loses the version race to an append
    re-RUNS against the fresh snapshot (full re-run, not a manifest
    merge: its negative df deltas and counts were computed from the
    stale snapshot — the append added docs whose ids are in the delete
    set, so a blind merge would under-count). The interleaved result
    must be bit-equal to the serial order append -> delete."""
    base = docs.limit(60).localCheckpoint(eager=True)
    delta = (
        docs.limit(80).subtract(base).localCheckpoint(eager=True)
    )
    base_ids = [r.doc_id for r in base.select("doc_id").limit(5).collect()]
    delta_ids = [r.doc_id for r in delta.select("doc_id").limit(5).collect()]
    del_ids = base_ids + delta_ids

    # serial reference: append fully lands, then the delete
    ref = str(tmp_path / "ref")
    L.build_lex_index(base, ref, n_buckets=4)
    L.append_lex_index(delta, ref)
    res_ref = L.delete_from_lex_index(spark, ref, del_ids)

    # interleaved: the append commits BETWEEN the delete's snapshot
    # read and its commit
    out = str(tmp_path / "out")
    L.build_lex_index(base, out, n_buckets=4)
    orig_commit = M.commit_manifest
    state = {"fired": False}

    def inject(root, *, tables, meta, expected_version, **kw):
        if not state["fired"] and "tombstones" in tables:
            state["fired"] = True
            L.append_lex_index(delta, out)  # commits for real first
        return orig_commit(
            root, tables=tables, meta=meta,
            expected_version=expected_version,
        )

    monkeypatch.setattr(M, "commit_manifest", inject)
    res = L.delete_from_lex_index(spark, out, del_ids)
    monkeypatch.setattr(M, "commit_manifest", orig_commit)

    assert state["fired"], "the race never happened"
    # the re-run counted the appended docs too (stale snapshot saw 5)
    assert res["deleted"] == 10 and res_ref["deleted"] == 10
    for k in ("n_docs", "sum_dl"):
        assert res["meta"][k] == res_ref["meta"][k]
    probes = query_terms_from_docs(base.orderBy("doc_id").limit(5),
                                   n_terms=6)
    assert _lex_topk(spark, out, probes) == _lex_topk(spark, ref, probes)
    # per-term document frequencies agree exactly
    def dfs(path):
        idx = L.load_lex_index(spark, path)
        return {
            (r.bucket, r.term, r.df)
            for r in idx.terms.groupBy("bucket", "term")
            .agg(F.sum("df").alias("df")).collect()
        }
    assert dfs(out) == dfs(ref)


def test_ann_delete_racing_append_equals_serial_order(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Dense mirror: an ANN tombstone delete racing an append re-runs
    against the fresh snapshot, so n_rows decrements by what is NOW
    present and probes serve bit-equal to the serial order."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    base = vecs.where(F.col("vec_id") < 120).localCheckpoint(eager=True)
    delta = vecs.where(
        (F.col("vec_id") >= 120) & (F.col("vec_id") < 160)
    ).localCheckpoint(eager=True)
    del_ids = [0, 1, 2, 120, 121]  # 3 in base, 2 only in the delta

    ref = str(tmp_path / "ref")
    A.build_ann_index(base, ref, m=4, n_codewords=8)
    A.append_ann_index(delta, ref)
    res_ref = A.delete_from_ann_index(spark, ref, del_ids)

    out = str(tmp_path / "out")
    A.build_ann_index(base, out, m=4, n_codewords=8)
    orig_commit = M.commit_manifest
    state = {"fired": False}

    def inject(root, *, tables, meta, expected_version, **kw):
        if not state["fired"] and "tombstones" in tables:
            state["fired"] = True
            A.append_ann_index(delta, out)
        return orig_commit(
            root, tables=tables, meta=meta,
            expected_version=expected_version,
        )

    monkeypatch.setattr(M, "commit_manifest", inject)
    res = A.delete_from_ann_index(spark, out, del_ids)
    monkeypatch.setattr(M, "commit_manifest", orig_commit)

    assert state["fired"], "the race never happened"
    assert res["deleted"] == 5 and res_ref["deleted"] == 5
    assert res["meta"]["n_rows"] == res_ref["meta"]["n_rows"]
    queries = vecs.orderBy("vec_id").limit(5)

    def topk(path):
        return {
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in A.ann_index_topk(
                A.load_ann_index(spark, path), queries, k=5, nprobe=2
            ).collect()
        }

    assert topk(out) == topk(ref)


# ------------------------------------------- auto-compaction scheduling
def test_edge_sink_auto_compaction_fires_once_at_threshold(
    spark, tmp_path, monkeypatch
):
    """compact_over on the edge sink is the scheduling policy: a
    streaming store bounds its own fragmentation. Three micro-batches
    land one delta file each in the same bucket; with compact_over=2
    the threshold is crossed exactly at batch 3 — compaction rewrites
    exactly once, and the store serves bit-equal before/after."""
    root = str(tmp_path / "edges")
    G.init_edge_store(root, n_buckets=2)
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")

    fired = []
    orig = G.compact_edge_store

    def spy(sp, p, **kw):
        out = orig(sp, p, **kw)
        if out["buckets_rewritten"]:
            fired.append(dict(out))
        return out

    monkeypatch.setattr(G, "compact_edge_store", spy)
    sink = G.edge_store_sink(root, n_buckets=2, compact_over=2)

    def run_stream():
        q = (
            spark.readStream.schema("url string, html string")
            .parquet(landing)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    expect = set()
    for b in range(3):
        rows = [
            (
                f"https://a.com/p{b}{i}",
                f'<a href="https://b{b}{i}.com/x">b</a>',
            )
            for i in range(2)
        ]
        expect |= {("a.com", f"b{b}{i}.com", 1) for i in range(2)}
        spark.createDataFrame(rows, ["url", "html"]).coalesce(
            1
        ).write.mode("append").parquet(landing)
        run_stream()

    assert len(fired) == 1, f"compaction fired {len(fired)} times"
    assert fired[0]["files_after"] < fired[0]["files_before"]
    got = {
        (r.src_domain, r.dst_domain, r.n_links)
        for r in G.load_edges(spark, root).collect()
    }
    assert got == expect
    # post-compaction fragmentation is back under the threshold
    snap = M.read_manifest(root)
    assert all(
        c <= 2 for c in M.part_file_counts(root, "edges", snap).values()
    )


def test_ann_manifest_sink_compact_over_bounds_fragmentation(
    spark, sf_dir, tmp_path
):
    """The ANN sink's compact_over policy must hold on the MANIFEST
    layout too (the threshold reads live part counts from the
    manifest, not a disk listing): repeated micro-batch appends into
    the same cells stay bounded, and probes serve bit-equal to plain
    batch appends."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    base = vecs.where(F.col("vec_id") < 80)
    out = str(tmp_path / "ann")
    A.build_ann_index(base, out, m=4, n_codewords=8)
    sink = A.ann_index_sink(out, compact_over=2)
    batches = [
        vecs.where((F.col("vec_id") >= 80 + 20 * b)
                   & (F.col("vec_id") < 100 + 20 * b))
        for b in range(4)
    ]
    for b, df in enumerate(batches):
        sink(df.coalesce(1), b)
    snap = M.read_manifest(out)
    counts = M.part_file_counts(out, "coded", snap)
    assert counts and all(c <= 2 for c in counts.values()), counts

    ref = str(tmp_path / "ref")
    A.build_ann_index(base, ref, m=4, n_codewords=8)
    for df in batches:
        A.append_ann_index(df, ref)
    queries = vecs.orderBy("vec_id").limit(5)

    def topk(path):
        return {
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in A.ann_index_topk(
                A.load_ann_index(spark, path), queries, k=5, nprobe=2
            ).collect()
        }

    assert topk(out) == topk(ref)


# ------------------------------------------- log scaling (r12 ask #4)
def _long_log(root, n=200):
    os.makedirs(root, exist_ok=True)
    M.init_manifest_store(root, tables={}, meta={"k": 0}, op="build")
    for i in range(1, n):
        M.commit_manifest(
            root, tables={}, meta={"k": i}, expected_version=i, op="append"
        )


def test_head_read_is_point_read_on_long_log(tmp_path, monkeypatch):
    """A 200-commit store's head read opens O(1) files: one names-only
    listing + one point read — never a parse of the whole log."""
    root = str(tmp_path / "s")
    _long_log(root, 200)
    calls = []
    real = M._get_manifest
    monkeypatch.setattr(
        M, "_get_manifest", lambda r, n: (calls.append(n), real(r, n))[1]
    )
    monkeypatch.setattr(
        M,
        "_list_manifests",
        lambda r: (_ for _ in ()).throw(
            AssertionError("full-log parse on a head read")
        ),
    )
    snap = M.read_manifest(root)
    assert snap["version"] == 200 and snap["meta"]["k"] == 199
    assert len(calls) == 1
    calls.clear()
    assert M.read_manifest(root, version=37)["meta"]["k"] == 36
    assert len(calls) == 1


def test_head_read_point_reads_on_commitstore_backend(tmp_path):
    """Same O(1) contract through a CommitStore log: the head read
    uses list_names + get, never the full list_records payload
    fetch."""
    from auto_data_linkage_spark.sources.layout import MemoryCommitStore

    class _Counting(MemoryCommitStore):
        def __init__(self):
            super().__init__()
            self.n_list_records = 0
            self.n_gets = 0

        def list_records(self):
            self.n_list_records += 1
            return super().list_records()

        def get(self, name):
            self.n_gets += 1
            return super().get(name)

    root = str(tmp_path / "s")
    os.makedirs(root)
    be = _Counting()
    M.use_commit_log(root, be)
    try:
        _long_log(root, 120)
        be.n_list_records = be.n_gets = 0
        snap = M.read_manifest(root)
        assert snap["version"] == 120
        assert be.n_list_records == 0 and be.n_gets == 1
    finally:
        M.clear_commit_log(root)


def test_checkpoint_preserves_history_across_vacuum(tmp_path):
    """checkpoint_manifest_log + vacuum: the old manifest FILES are
    reclaimed, the audit trail still replays every version's entry
    (op + generation adds), and a later incremental checkpoint folds
    only the new commits in."""
    root = str(tmp_path / "s")
    os.makedirs(root)
    tables = {}
    M.init_manifest_store(root, tables={}, meta={}, op="build")
    n = 30
    for i in range(1, n):
        gen = f"gen={i}xaaaaaaa{i:02d}"
        gdir = os.path.join(root, "t", gen)
        os.makedirs(gdir)
        open(os.path.join(gdir, "part-0.parquet"), "w").write("x")
        tables = M.add_gens(tables, "t", [""], gen)
        M.commit_manifest(
            root, tables=tables, meta={}, expected_version=i, op="append"
        )
    want = M.history(root)
    assert len(want) == n and want[5]["added"] == {"t": [f"gen=5xaaaaaaa05"]}

    chk = M.checkpoint_manifest_log(root)
    assert chk["upto"] == n
    out = M.vacuum(root, keep_manifests=2, min_age_seconds=0)
    assert len(out["removed_manifests"]) == n - 2
    # every version's audit entry survives the file reclamation
    assert M.history(root) == want
    # the head still reads fine, and data gens are all live (no gen
    # was superseded, so nothing data-side was reclaimed)
    assert M.read_manifest(root)["version"] == n
    assert out["removed_gens"] == []

    # incremental: two more commits, re-checkpoint, vacuum again
    for i in range(n, n + 2):
        gen = f"gen={i}xbbbbbbb{i:02d}"
        gdir = os.path.join(root, "t", gen)
        os.makedirs(gdir)
        open(os.path.join(gdir, "part-0.parquet"), "w").write("x")
        tables = M.add_gens(tables, "t", [""], gen)
        M.commit_manifest(
            root, tables=tables, meta={}, expected_version=i, op="append"
        )
    chk2 = M.checkpoint_manifest_log(root)
    assert chk2["upto"] == n + 2
    M.vacuum(root, keep_manifests=1, min_age_seconds=0)
    hist = M.history(root)
    assert len(hist) == n + 2
    assert [h["version"] for h in hist] == list(range(1, n + 3))
    # the superseded checkpoint record was reclaimed with the vacuum
    assert M._checkpoint_names(root) == [M._chk_name(n + 2)]


def test_commitstore_age_hook_lets_default_vacuum_reclaim(tmp_path):
    """The timestamp hook (r12 'what's wrong #2'): on a CommitStore
    backend with age_seconds, records older than the floor are
    reclaimable by a DEFAULT vacuum — previously every record counted
    as just-written and nothing could ever be reclaimed without
    waiving the floor."""
    from auto_data_linkage_spark.sources.layout import MemoryCommitStore

    now = {"t": 1000.0}
    root = str(tmp_path / "s")
    os.makedirs(root)
    be = MemoryCommitStore(clock=lambda: now["t"])
    M.use_commit_log(root, be)
    try:
        _long_log(root, 5)  # committed at t=1000
        now["t"] += 7200.0  # two hours pass
        M.commit_manifest(
            root, tables={}, meta={"k": 99}, expected_version=5, op="append"
        )  # young head
        out = M.vacuum(root, keep_manifests=1)  # DEFAULT 1 h age floor
        # old records (2 h) reclaimed; the young head kept
        assert len(out["removed_manifests"]) == 5
        assert M.read_manifest(root)["version"] == 6
    finally:
        M.clear_commit_log(root)


def test_prune_txn_tokens_drops_only_named_apps(tmp_path):
    root = str(tmp_path / "s")
    os.makedirs(root)
    M.init_manifest_store(root, tables={}, meta={}, op="build")

    def record(app, bid):
        def mutate(fresh):
            return fresh["tables"], M.with_txn(fresh["meta"], (app, bid))

        M.commit_with_retry(root, mutate, op="append")

    record("q-old", 7)
    record("q-live", 3)
    M.prune_txn_tokens(root, ["q-old"])
    meta = M.read_manifest(root)["meta"]
    assert M.txn_version(meta, "q-old") == -1  # pruned: would replay
    assert M.txn_version(meta, "q-live") == 3  # retained: exactly-once
