"""Commit-log fault simulation (VERDICT r11 ask #7): the manifest
protocol under object-store weather, driven by
:class:`sources.layout.FlakyCommitStore` — a deterministic
fault/latency-injecting decorator over any CommitStore.

What must hold:

- CLEAN transient failures (503 before the put applied) are retried
  inside ``commit_manifest`` and the mutation is applied exactly once;
- AMBIGUOUS successes (timeout AFTER the conditional put landed — the
  classic S3 hazard) are resolved by reading the slot back, NOT by
  re-running the mutation: no duplicated generations in the live
  lists, no double-incremented ``n_docs``;
- a slot occupied by a DIFFERENT writer's manifest still surfaces as
  :class:`ManifestConflictError` (weather never masks a real race);
- the full lex lifecycle under sustained mixed weather + slow LISTs
  is bit-equal to the same lifecycle on a clean log, and the injected
  fault counters prove the retries actually happened.
"""

import os

import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import lexindex as L
from auto_data_linkage_spark.operators import manifestfs as M
from auto_data_linkage_spark.operators.retrieval import (
    query_terms_from_docs,
)
from auto_data_linkage_spark.sources.layout import (
    FlakyCommitStore,
    MemoryCommitStore,
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


def _no_duplicate_gens(root):
    """Every live list in the head manifest references each generation
    at most once — the invariant an un-resolved ambiguous put breaks
    (rows would be read twice)."""
    snap = M.read_manifest(root)
    for table, mapping in snap["tables"].items():
        for part, gens in mapping.items():
            assert len(gens) == len(set(gens)), (
                f"{table}/{part} lists a generation twice: {gens}"
            )


# ------------------------------------------------------- protocol units
def test_clean_transient_failures_are_retried(tmp_path):
    root = str(tmp_path / "s")
    os.makedirs(root)
    flaky = FlakyCommitStore(MemoryCommitStore(), seed=3, fail_rate=0.4)
    M.use_commit_log(root, flaky)
    try:
        M.init_manifest_store(root, tables={}, meta={"k": 0})
        for v in range(1, 6):
            M.commit_manifest(
                root,
                tables={"t": {"": [f"gen={v}"]}},
                meta={"k": v},
                expected_version=v,
            )
        assert M.read_manifest(root)["version"] == 6
        # exactly one manifest per version despite the failed attempts
        assert len(flaky.inner.list_records()) == 6
        assert flaky.stats["clean_failures"] > 0
        assert flaky.stats["creates"] > 6  # retries actually happened
    finally:
        M.clear_commit_log(root)


def test_ambiguous_success_resolves_to_success(tmp_path):
    """Every conditional put lands but RAISES (ambiguous_rate=1):
    commit_manifest must read the slot back, recognise its own
    manifest, and report success — one manifest per version, no
    duplicate applications."""
    root = str(tmp_path / "s")
    os.makedirs(root)
    flaky = FlakyCommitStore(MemoryCommitStore(), seed=0, ambiguous_rate=1.0)
    M.use_commit_log(root, flaky)
    try:
        M.init_manifest_store(root, tables={}, meta={"n": 0})

        def mutate(fresh):
            t2 = M.add_gens(fresh["tables"], "t", [""], "gen=2xaaaa0000")
            m2 = dict(fresh["meta"])
            m2["n"] = int(m2["n"]) + 10
            return t2, m2

        out = M.commit_with_retry(root, mutate)
        assert out["version"] == 2 and out["meta"]["n"] == 10
        assert out["tables"]["t"][""] == ["gen=2xaaaa0000"]
        assert flaky.stats["ambiguous_successes"] == 2  # init + delta
        _no_duplicate_gens(root)
    finally:
        M.clear_commit_log(root)


def test_weather_never_masks_a_real_race(tmp_path):
    """A slot already taken by a DIFFERENT manifest is a genuine lost
    race, reported as ManifestConflictError even under injection."""
    root = str(tmp_path / "s")
    os.makedirs(root)
    inner = MemoryCommitStore()
    flaky = FlakyCommitStore(inner, seed=0, ambiguous_rate=1.0)
    M.use_commit_log(root, flaky)
    try:
        M.init_manifest_store(root, tables={}, meta={})
        # a concurrent writer owns v2 already
        assert inner.create_exclusive(
            "v000000000002.json",
            {"version": 2, "meta": {"who": "other"}, "tables": {}},
        )
        with pytest.raises(M.ManifestConflictError):
            M.commit_manifest(
                root, tables={}, meta={"who": "me"}, expected_version=1
            )
    finally:
        M.clear_commit_log(root)


def test_sustained_clean_failure_exhausts_budget_loudly(tmp_path):
    root = str(tmp_path / "s")
    os.makedirs(root)
    M.use_commit_log(
        root, FlakyCommitStore(MemoryCommitStore(), seed=0, fail_rate=1.0)
    )
    try:
        with pytest.raises(M.TransientCommitError, match="weather"):
            M.init_manifest_store(root, tables={}, meta={})
    finally:
        M.clear_commit_log(root)


def test_vacuum_is_restartable_across_remove_failures(tmp_path):
    """A transient DELETE failure mid-vacuum (object-store weather)
    must leave the store fully readable; the re-run completes the
    reclamation. Vacuum makes no atomicity claim — only monotonic,
    restartable garbage collection."""
    root = str(tmp_path / "s")
    os.makedirs(root)
    flaky = FlakyCommitStore(MemoryCommitStore(), seed=2, remove_fail_rate=1.0)
    M.use_commit_log(root, flaky)
    try:
        M.init_manifest_store(root, tables={}, meta={"k": 1})
        for v in range(1, 4):
            M.commit_manifest(
                root, tables={}, meta={"k": v + 1}, expected_version=v
            )
        with pytest.raises(M.TransientCommitError, match="removing"):
            M.vacuum(root, keep_manifests=1, min_age_seconds=0)
        # the store is untouched-or-partially-collected, never broken
        assert M.read_manifest(root)["meta"]["k"] == 4
        flaky.remove_fail_rate = 0.0
        out = M.vacuum(root, keep_manifests=1, min_age_seconds=0)
        assert out["removed_manifests"]
        assert M.read_manifest(root)["meta"]["k"] == 4
        assert len(flaky.inner.list_records()) == 1
        assert flaky.stats["remove_failures"] > 0
    finally:
        M.clear_commit_log(root)


def test_torn_slot_reclaim_is_lock_guarded(tmp_path):
    """The posix torn-slot reclaim takes an exclusive sidecar lock so
    two reclaimers cannot race check-then-remove (the loser would
    delete the winner's just-published COMPLETE manifest). A held lock
    surfaces as a conflict; vacuum clears an orphaned lock past the
    age floor; reclaim proceeds once the lock is gone."""
    root = str(tmp_path / "s")
    os.makedirs(root)
    M.init_manifest_store(root, tables={}, meta={})
    mdir = os.path.join(root, "_manifests")
    torn = os.path.join(mdir, "v000000000002.json")
    with open(torn, "w") as f:
        f.write('{"version": 2, "tab')  # torn debris in the v2 slot
    lock = torn + ".reclaim"
    open(lock, "w").close()  # a reclaimer is (or died) mid-claim
    with pytest.raises(M.ManifestConflictError, match="reclaim"):
        M.commit_manifest(root, tables={}, meta={}, expected_version=1)
    assert os.path.exists(torn)  # nothing was deleted under the lock
    out = M.vacuum(root, keep_manifests=1, min_age_seconds=0)
    assert not os.path.exists(lock)  # orphaned lock cleared
    m = M.commit_manifest(
        root, tables={}, meta={"k": 2}, expected_version=1
    )
    assert m["version"] == 2 and M.read_manifest(root)["meta"]["k"] == 2
    assert out is not None


# -------------------------------------------------- lifecycle under weather
def test_ambiguous_append_does_not_double_count(spark, docs, probes, tmp_path):
    """The drift scenario the resolution exists for: with every commit
    ambiguous, a build+append must neither double-list the delta's
    generations (rows read twice) nor double-increment n_docs."""
    out = str(tmp_path / "flaky")
    ref = str(tmp_path / "ref")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    flaky = FlakyCommitStore(MemoryCommitStore(), seed=1, ambiguous_rate=1.0)
    M.use_commit_log(out, flaky)
    try:
        L.build_lex_index(a, out, n_buckets=4)
        meta = L.append_lex_index(b, out)
        L.build_lex_index(a, ref, n_buckets=4)
        ref_meta = L.append_lex_index(b, ref)
        assert meta["n_docs"] == ref_meta["n_docs"]
        assert meta["sum_dl"] == ref_meta["sum_dl"]
        _no_duplicate_gens(out)
        assert flaky.stats["ambiguous_successes"] >= 2
        assert _lex_topk(spark, out, probes) == _lex_topk(spark, ref, probes)
    finally:
        M.clear_commit_log(out)


def test_full_lifecycle_under_mixed_weather(spark, docs, probes, tmp_path):
    """Build → append → atomic delete → compaction → probe, under
    sustained mixed weather (clean failures + ambiguous successes +
    slow LISTs), bit-equal to the same lifecycle on a clean log; the
    counters prove injection and retries actually happened."""
    out = str(tmp_path / "flaky")
    ref = str(tmp_path / "ref")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    dels = a.select("doc_id").orderBy("doc_id").limit(20)
    flaky = FlakyCommitStore(
        MemoryCommitStore(),
        seed=7,
        fail_rate=0.25,
        ambiguous_rate=0.25,
        list_delay_s=0.002,
    )
    M.use_commit_log(out, flaky)
    try:
        for root in (out, ref):
            L.build_lex_index(a, root, n_buckets=4)
            L.append_lex_index(b, root)
            L.delete_from_lex_index(spark, root, dels)
            L.compact_lex_index(spark, root, max_files_per_bucket=1)
        assert _lex_topk(spark, out, probes) == _lex_topk(spark, ref, probes)
        fm = M.read_manifest(out)["meta"]
        rm = M.read_manifest(ref)["meta"]
        assert (fm["n_docs"], fm["sum_dl"]) == (rm["n_docs"], rm["sum_dl"])
        _no_duplicate_gens(out)
        assert M.read_manifest(out)["version"] == M.read_manifest(ref)["version"]
        assert flaky.stats["clean_failures"] > 0
        assert flaky.stats["ambiguous_successes"] > 0
        assert flaky.stats["lists"] > 0
    finally:
        M.clear_commit_log(out)


class _CountingStore(MemoryCommitStore):
    """MemoryCommitStore that counts list_records calls — pins the
    conflict fast path (ADVICE r12, low): a PLAIN lost race (create
    returned False, no ambiguity ever raised in the call) must raise
    ManifestConflictError without fetching the whole log, because
    commit_with_retry pays that read per retry attempt."""

    def __init__(self):
        super().__init__()
        self.n_lists = 0

    def list_records(self):
        self.n_lists += 1
        return super().list_records()


def test_plain_lost_race_skips_log_readback(tmp_path):
    root = str(tmp_path / "s")
    os.makedirs(root)
    be = _CountingStore()
    M.use_commit_log(root, be)
    try:
        M.init_manifest_store(root, tables={}, meta={"k": 0})
        # another writer occupies version 2 before us
        be.create_exclusive(
            "v000000000002.json",
            {"version": 2, "meta": {"k": 1}, "tables": {}},
        )
        be.n_lists = 0
        with pytest.raises(M.ManifestConflictError):
            M.commit_manifest(
                root, tables={}, meta={"k": 9}, expected_version=1
            )
        assert be.n_lists == 0  # no O(log) read-back on the clean race
    finally:
        M.clear_commit_log(root)


def test_ambiguous_then_lost_race_still_reads_back(tmp_path):
    """The read-back must STILL happen when an ambiguous attempt
    preceded the plain False — our own put may have landed."""
    root = str(tmp_path / "s")
    os.makedirs(root)
    inner = _CountingStore()

    class _OneAmbiguous(MemoryCommitStore):
        """First create_exclusive APPLIES the put, then reports
        UNKNOWN (the classic landed-then-timed-out S3 hazard);
        later calls behave normally."""

        def __init__(self):
            super().__init__()
            self.fired = False

        def create_exclusive(self, name, record):
            won = inner.create_exclusive(name, record)
            if not self.fired:
                self.fired = True
                raise M.TransientCommitError("landed then timed out")
            return won

        def list_records(self):
            return inner.list_records()

        def get(self, name):
            return inner.get(name)

        def remove(self, name):
            return inner.remove(name)

    be = _OneAmbiguous()
    M.use_commit_log(root, be)
    try:
        M.init_manifest_store(root, tables={}, meta={"k": 0})
        # the init itself consumed the one ambiguous fault iff fired;
        # reset for a clean second commit
        be.fired = False
        out = M.commit_manifest(
            root, tables={}, meta={"k": 1}, expected_version=1
        )
        assert out["version"] == 2 and out["meta"] == {"k": 1}
        # exactly one committed v2, content ours
        assert inner.list_records()["v000000000002.json"] == out
    finally:
        M.clear_commit_log(root)
