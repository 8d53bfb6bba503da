"""Index sync from the corpus snapshot commit log (operators/sync.py):
append-only corpus commits fold into the persisted indexes O(Δ), with
the index's own txn token as the resume cursor; upserts delete the
replaced rows and re-append the revisions (sequence-stamp tombstones
— module docstring)."""

import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import annindex as A
from auto_data_linkage_spark.operators import lexindex as L
from auto_data_linkage_spark.operators import manifestfs as M
from auto_data_linkage_spark.operators.retrieval import query_terms_from_docs
from auto_data_linkage_spark.operators.sync import (
    sync_ann_index,
    sync_lex_index,
)
from auto_data_linkage_spark.sources import corpusstore as C


# r16 test-tier split: this module is a lifecycle-matrix / property /
# full-catalog sweep — cost is a matrix-sized multiple of a unit test,
# so it runs in the exhaustive tier (pytest -m exhaustive), not the
# default wall-budgeted gate. See pytest.ini + OPTIMIZATION_r16.md.
pytestmark = pytest.mark.exhaustive


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "lang")
        .localCheckpoint(eager=False)
    )


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").localCheckpoint(
        eager=False
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


def test_lex_sync_tracks_append_only_corpus(spark, docs, tmp_path, probes):
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    half = docs.where(F.col("doc_id") % 2 == 0)
    C.build_corpus_snapshot(half, corpus, key="doc_id", partition_by=["lang"])

    # start EMPTY: the feed builds the index from v=1 (the build commit)
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).limit(0), idx,
        n_buckets=4,
    )
    out = sync_lex_index(spark, corpus, idx)
    assert [(a["version"], a["action"]) for a in out["applied"]] == [
        (1, "applied")
    ]
    ref1 = str(tmp_path / "ref1")
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).select("doc_id", "text"),
        ref1, n_buckets=4,
    )
    assert _lex_topk(spark, idx, probes) == _lex_topk(spark, ref1, probes)

    # corpus gains an append (v2) and a compaction (v3); sync applies
    # the append, skips the compaction
    quarter = docs.where(F.col("doc_id") % 4 == 1)
    C.append_corpus_snapshot(corpus, quarter)
    C.compact_corpus_snapshot(spark, corpus, max_files_per_partition=0)
    out = sync_lex_index(spark, corpus, idx)
    acts = {a["version"]: a["action"] for a in out["applied"]}
    # v2/v3 are the first sync's registry commits (not reported);
    # the append is v4, the compaction v5
    assert acts[4] == "applied" and acts[5] == "skipped"
    ref2 = str(tmp_path / "ref2")
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).select("doc_id", "text"),
        ref2, n_buckets=4,
    )
    assert _lex_topk(spark, idx, probes) == _lex_topk(spark, ref2, probes)

    # idempotent: the cursor makes a re-sync change nothing
    v = M.read_manifest(idx)["version"]
    out = sync_lex_index(spark, corpus, idx)
    assert all(a["action"] == "skipped" for a in out["applied"])
    assert M.read_manifest(idx)["version"] == v


def test_lex_sync_resumes_after_midbacklog_crash(
    spark, docs, tmp_path, probes, monkeypatch
):
    """Two pending corpus commits; the first append crashes AFTER its
    commit landed (the worst case): the re-sync must not double-apply
    it (token) and must pick up the second commit."""
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    C.build_corpus_snapshot(
        docs.where(F.col("doc_id") % 2 == 0), corpus,
        key="doc_id", partition_by=["lang"],
    )
    C.append_corpus_snapshot(corpus, docs.where(F.col("doc_id") % 4 == 1))
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).limit(0), idx,
        n_buckets=4,
    )
    real = L.append_lex_index
    state = {"calls": 0}

    def crash_after_first(rows, path, **kw):
        out = real(rows, path, **kw)
        state["calls"] += 1
        if state["calls"] == 1:
            raise OSError("injected crash after the v1 append committed")
        return out

    monkeypatch.setattr(
        "auto_data_linkage_spark.operators.sync.L.append_lex_index",
        crash_after_first,
    )
    with pytest.raises(OSError, match="injected"):
        sync_lex_index(spark, corpus, idx)
    out = sync_lex_index(spark, corpus, idx)  # resume
    # the crashed append COMMITTED its token, so the cursor itself
    # resumes past v1 — only v2 is (re)presented and applied
    assert {a["version"] for a in out["applied"]} == {2}
    ref = str(tmp_path / "ref")
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).select("doc_id", "text"),
        ref, n_buckets=4,
    )
    assert _lex_topk(spark, idx, probes) == _lex_topk(spark, ref, probes)
    assert (
        M.read_manifest(idx)["meta"]["n_docs"]
        == M.read_manifest(ref)["meta"]["n_docs"]
    )


def test_lex_sync_folds_upserts(spark, docs, tmp_path, probes):
    """Revision commits fold in: the upsert's replaced partitions are
    forgotten (sequence-aware delete) and the post-merge content —
    including the re-appended revised ids — serves, bit-equal to a
    fresh build over the corpus head."""
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    C.build_corpus_snapshot(
        docs, corpus, key="doc_id", partition_by=["lang"]
    )
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).limit(0), idx,
        n_buckets=4,
    )
    sync_lex_index(spark, corpus, idx)
    revised = (
        docs.orderBy("doc_id").limit(6)
        .withColumn(
            "text", F.concat(F.lit("revised edition "), F.col("text"))
        )
        .localCheckpoint(eager=True)
    )
    C.upsert_corpus_snapshot(spark, corpus, revised)
    ins = (
        docs.orderBy("doc_id").limit(4)
        .withColumn("doc_id", F.col("doc_id") + 5_000_000)
    )
    C.append_corpus_snapshot(corpus, ins)
    out = sync_lex_index(spark, corpus, idx)
    # v2/v3 are the first sync's registry commits (not reported)
    assert [(a["version"], a["op"]) for a in out["applied"]] == [
        (4, "upsert"), (5, "append"),
    ]
    ref = str(tmp_path / "ref")
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).select("doc_id", "text"),
        ref, n_buckets=4,
    )
    assert _lex_topk(spark, idx, probes) == _lex_topk(spark, ref, probes)
    assert (
        M.read_manifest(idx)["meta"]["n_docs"]
        == M.read_manifest(ref)["meta"]["n_docs"]
    )
    # revised text is what serves
    q2 = query_terms_from_docs(revised.limit(2), n_terms=6)
    assert _lex_topk(spark, idx, q2) == _lex_topk(spark, ref, q2)


def test_represented_upsert_does_not_remask_revisions(
    spark, docs, tmp_path, probes
):
    """A retried sync that re-presents an ALREADY-APPLIED upsert (its
    token committed, e.g. since= anchored below it) must skip the
    whole commit: re-running the delete half would re-cut tombstones
    at the now-advanced counter and permanently mask the revision
    rows whose re-append the token skips."""
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    C.build_corpus_snapshot(docs, corpus, key="doc_id", partition_by=["lang"])
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).limit(0), idx,
        n_buckets=4,
    )
    sync_lex_index(spark, corpus, idx)
    revised = (
        docs.orderBy("doc_id").limit(5)
        .withColumn("text", F.lit("unique zyzzyva revision text"))
        .localCheckpoint(eager=True)
    )
    C.upsert_corpus_snapshot(spark, corpus, revised)
    sync_lex_index(spark, corpus, idx)
    want = _lex_topk(spark, idx, query_terms_from_docs(revised, n_terms=4))
    assert want  # revisions serve
    # the dangerous retry: re-present everything from the beginning
    out = sync_lex_index(spark, corpus, idx, since=0)
    assert all(a["action"] == "already-applied" for a in out["applied"]
               if a["op"] != "compact")
    assert _lex_topk(
        spark, idx, query_terms_from_docs(revised, n_terms=4)
    ) == want  # revisions still serve; nothing was re-masked
    assert (
        M.read_manifest(idx)["meta"]["n_docs"]
        == C.load_corpus_snapshot(spark, corpus).count()
    )


def test_first_sync_without_since_on_nonempty_index_raises(
    spark, docs, tmp_path
):
    """The documented-but-easy-to-miss misuse: an index built from a
    non-empty corpus synced without since= would silently re-append
    the whole corpus — it must fail loudly with the since= hint."""
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    C.build_corpus_snapshot(
        docs.limit(60), corpus, key="doc_id", partition_by=["lang"]
    )
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).select("doc_id", "text"),
        idx, n_buckets=4,
    )
    with pytest.raises(ValueError, match="since="):
        sync_lex_index(spark, corpus, idx)
    # the documented anchor works, and thereafter parameterless syncs do
    out = sync_lex_index(spark, corpus, idx, since=1)
    assert out["applied"] == []
    assert sync_lex_index(spark, corpus, idx)["applied"] == []


def test_sync_refuses_upserts_on_legacy_index(spark, docs, tmp_path):
    """An index whose meta predates the sequence counter is refused
    with the rebuild hint when the sync OPENS it — whatever the
    pending corpus commits are (an upsert's revisions, or a plain
    append) — and the sync commits nothing to either store."""
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    C.build_corpus_snapshot(
        docs.limit(50), corpus, key="doc_id", partition_by=["lang"]
    )
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).limit(0), idx,
        n_buckets=4,
    )
    sync_lex_index(spark, corpus, idx)
    # age the index: strip the sequence counter as a pre-seq build had
    snap = M.read_manifest(idx)
    legacy_meta = {k: v for k, v in snap["meta"].items() if k != "seq"}
    M.commit_manifest(
        idx, tables=snap["tables"], meta=legacy_meta,
        expected_version=snap["version"],
    )
    C.append_corpus_snapshot(corpus, docs.where(F.col("doc_id") > 900))
    C.upsert_corpus_snapshot(
        spark, corpus, docs.limit(3).withColumn("text", F.lit("revised"))
    )
    heads = (M.read_manifest(idx)["version"],
             M.read_manifest(corpus)["version"])
    with pytest.raises(ValueError, match="rebuild"):
        sync_lex_index(spark, corpus, idx)
    assert (M.read_manifest(idx)["version"],
            M.read_manifest(corpus)["version"]) == heads


def test_ann_sync_matches_manual_appends(spark, emb, tmp_path):
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    ref = str(tmp_path / "ref")
    half = emb.where(F.col("vec_id") % 2 == 0)
    delta = emb.where(F.col("vec_id") % 2 == 1).localCheckpoint(eager=True)
    C.build_corpus_snapshot(half, corpus, key="vec_id", partition_by=["label"])

    # index trained on corpus head v1; first sync anchors with since=1
    A.build_ann_index(
        C.load_corpus_snapshot(spark, corpus), idx
    )
    out = sync_ann_index(spark, corpus, idx, since=1)
    assert out["applied"] == [] and out["version"] == 1

    C.append_corpus_snapshot(corpus, delta)
    out = sync_ann_index(spark, corpus, idx)
    # v2 is the first sync's registry commit, so the append lands at v3
    assert [(a["version"], a["action"]) for a in out["applied"]] == [
        (3, "applied")
    ]

    # reference: the same initial build + a manual append of the delta
    A.build_ann_index(half, ref)
    A.append_ann_index(delta, ref)
    q = emb.orderBy("vec_id").limit(5)
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in A.ann_index_topk(
            A.load_ann_index(spark, idx), q, k=3
        ).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in A.ann_index_topk(
            A.load_ann_index(spark, ref), q, k=3
        ).collect()
    }
    assert got == want
    assert (
        M.read_manifest(idx)["meta"]["n_rows"]
        == M.read_manifest(ref)["meta"]["n_rows"]
    )
    # idempotent re-sync
    out = sync_ann_index(spark, corpus, idx)
    assert out["applied"] == []


def test_overlapping_sync_delete_cannot_remask_revisions(
    spark, docs, tmp_path, probes, monkeypatch
):
    """The check-then-delete TOCTOU (ADVICE r12, medium): an
    overlapping FOLLOWER sync reads the cursor below v, then the
    LEADER applies commit v in full (delete + re-append, token=v) —
    the follower's delete, executed now, would cut tombstones at the
    advanced counter and permanently mask the leader's re-appended
    revision rows (its own append is then token-skipped, so nothing
    restores them). The guard_txn riding the delete's own commit CAS
    must turn that delete into a no-op."""
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    C.build_corpus_snapshot(docs, corpus, key="doc_id", partition_by=["lang"])
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).limit(0), idx,
        n_buckets=4,
    )
    sync_lex_index(spark, corpus, idx)
    revised = (
        docs.orderBy("doc_id").limit(5)
        .withColumn("text", F.lit("unique xylophage revision text"))
        .localCheckpoint(eager=True)
    )
    C.upsert_corpus_snapshot(spark, corpus, revised)  # commit v=2

    real_delete = L.delete_from_lex_index
    state = {"fired": False}

    def interleaved_delete(sp, path, ids, **kw):
        if not state["fired"]:
            state["fired"] = True
            # the LEADER completes the whole sync (delete + re-append,
            # token=2) in the window between the follower's cursor
            # fast-check and its delete — then the follower's delete
            # proceeds with its guard
            sync_lex_index(spark, corpus, idx)
        return real_delete(sp, path, ids, **kw)

    monkeypatch.setattr(
        "auto_data_linkage_spark.operators.sync.L.delete_from_lex_index",
        interleaved_delete,
    )
    out = sync_lex_index(spark, corpus, idx)  # the follower
    # v2/v3 are the first sync's registry commits; the upsert is v4
    assert {a["version"] for a in out["applied"]} == {4}
    q = query_terms_from_docs(revised, n_terms=4)
    ref = str(tmp_path / "ref")
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).select("doc_id", "text"),
        ref, n_buckets=4,
    )
    # the revision rows still serve — the follower's late delete was a
    # guarded no-op, not a permanent mask
    assert _lex_topk(spark, idx, q) == _lex_topk(spark, ref, q)
    assert _lex_topk(spark, idx, probes) == _lex_topk(spark, ref, probes)
    assert (
        M.read_manifest(idx)["meta"]["n_docs"]
        == M.read_manifest(ref)["meta"]["n_docs"]
    )


def test_guarded_delete_skips_when_token_committed(spark, docs, tmp_path):
    """Unit form of the guard: once the index carries token >= v for
    the sync app, a delete presenting guard_txn=(app, v) no-ops — and
    an UNGUARDED delete of the same ids still works (takedowns are
    unaffected)."""
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    C.build_corpus_snapshot(docs, corpus, key="doc_id", partition_by=["lang"])
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).limit(0), idx,
        n_buckets=4,
    )
    sync_lex_index(spark, corpus, idx)  # token ("corpus-sync:...", 1)
    from auto_data_linkage_spark.operators.sync import _sync_app_id

    app = _sync_app_id(corpus)
    ids = docs.orderBy("doc_id").limit(3).select("doc_id")
    n0 = M.read_manifest(idx)["meta"]["n_docs"]
    out = L.delete_from_lex_index(spark, idx, ids, guard_txn=(app, 1))
    assert out.get("skipped_txn") and out["deleted"] == 0
    assert M.read_manifest(idx)["meta"]["n_docs"] == n0
    # a guard for a FUTURE version does not block (token < v)
    out = L.delete_from_lex_index(spark, idx, ids, guard_txn=(app, 2))
    assert "skipped_txn" not in out and out["deleted"] == 3
    assert M.read_manifest(idx)["meta"]["n_docs"] == n0 - 3


def test_ann_drift_triggers_rebuild_and_restores_recall(spark, tmp_path):
    """rebuild_over (VERDICT r12 ask #2): clustered base corpus, then
    (a) an in-distribution append never trips the drift metric, and
    (b) a distribution-shifted append trips it — the triggered rebuild
    re-trains codebooks/centroids on the synced corpus head, restores
    the >=0.8 recall floor on drifted-region queries, and re-anchors
    the sync cursor so the next parameterless sync is a no-op."""
    import random

    from auto_data_linkage_spark.operators.similarity import (
        brute_force_topk,
    )

    rnd = random.Random(7)
    DIM, K = 16, 6
    centers = [[rnd.uniform(-3, 3) for _ in range(DIM)] for _ in range(K)]

    def mk(i, shift=0.0):
        c = centers[i % K]
        return [c[d] + rnd.gauss(0, 0.15) + shift for d in range(DIM)]

    def frame(ids, shift=0.0):
        return spark.createDataFrame(
            [(i, mk(i, shift), int(i) % 2) for i in ids],
            "vec_id long, embedding array<double>, part int",
        )

    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    C.build_corpus_snapshot(
        frame(range(600)), corpus, key="vec_id", partition_by=["part"]
    )
    A.build_ann_index(
        C.load_corpus_snapshot(spark, corpus).select("vec_id", "embedding"),
        idx, m=4, n_codewords=8, n_cells=K,
    )
    assert A.load_ann_index(spark, idx).meta["recon_err"] is not None

    # (a) in-distribution append: drift stays under the threshold
    C.append_corpus_snapshot(corpus, frame(range(600, 900)))
    out = sync_ann_index(spark, corpus, idx, since=1, rebuild_over=0.1)
    assert out["drift"] is not None and out["drift"] <= 0.1
    assert out["rebuilt"] is False

    # (b) shifted append: drift trips, rebuild fires
    C.append_corpus_snapshot(corpus, frame(range(9000, 9300), shift=4.0))
    out = sync_ann_index(spark, corpus, idx, rebuild_over=0.1)
    assert out["drift"] > 0.1 and out["rebuilt"] is True

    # the rebuild reset the drift baseline and accounting
    meta = A.load_ann_index(spark, idx).meta
    assert A.ann_drift(meta) is None and not meta.get("err_rows")

    # recall floor on drifted-region queries vs exact brute force
    full = C.load_corpus_snapshot(spark, corpus).select(
        "vec_id", "embedding"
    ).localCheckpoint(eager=True)
    queries = full.where(F.col("vec_id") >= 9000).limit(10)
    exact = {}
    for r in brute_force_topk(full, queries, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in A.ann_index_topk(
        A.load_ann_index(spark, idx), queries, k=5, nprobe=3,
        rerank_factor=20, corpus=full,
    ).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls

    # cursor re-anchored at the rebuilt head: parameterless re-sync no-ops
    v = M.read_manifest(idx)["version"]
    out = sync_ann_index(spark, corpus, idx, rebuild_over=0.1)
    assert all(a["action"] != "applied" for a in out["applied"])
    assert out["rebuilt"] is False and M.read_manifest(idx)["version"] == v


def test_lagging_cursor_blocks_default_vacuum_then_sync_completes(
    spark, docs, tmp_path, probes
):
    """Consumer-aware corpus vacuum (VERDICT r12 ask #3): a registered
    sync lagging behind the corpus head pins the manifests it still
    needs — a default vacuum (even keep_manifests=1, age floor waived)
    must not reclaim them, and the sync then completes. Once caught
    up, the same vacuum reclaims. A dead consumer is unregistered and
    stops pinning."""
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    C.build_corpus_snapshot(
        docs.where(F.col("doc_id") % 3 == 0), corpus,
        key="doc_id", partition_by=["lang"],
    )
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).limit(0), idx, n_buckets=4,
    )
    sync_lex_index(spark, corpus, idx)  # cursor -> v1, registered
    key = "corpus-sync:" + __import__("os").path.abspath(idx)
    assert C.registered_sync_cursors(corpus)[key] >= 1

    # the corpus moves on while the consumer lags
    C.append_corpus_snapshot(corpus, docs.where(F.col("doc_id") % 3 == 1))
    C.append_corpus_snapshot(corpus, docs.where(F.col("doc_id") % 3 == 2))
    head = M.read_manifest(corpus)["version"]
    cursor = C.registered_sync_cursors(corpus)[key]
    assert cursor < head  # genuinely lagging

    out = C.vacuum_corpus_snapshot(
        corpus, keep_manifests=1, min_age_seconds=0
    )
    # every manifest the lagging sync needs (>= cursor) survived
    kept = {
        int(n[1:-5])
        for n in __import__("os").listdir(f"{corpus}/_manifests")
        if n.startswith("v")
    }
    assert all(v in kept for v in range(cursor, head + 1)), (out, kept)

    # the sync completes and equals a fresh head build
    sync_lex_index(spark, corpus, idx)
    ref = str(tmp_path / "ref")
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).select("doc_id", "text"),
        ref, n_buckets=4,
    )
    assert _lex_topk(spark, idx, probes) == _lex_topk(spark, ref, probes)

    # caught up: the same default vacuum now reclaims old manifests.
    # The floor converges at 2: the content head the cursor covers plus
    # the trailing sync-cursor registration commit itself.
    C.vacuum_corpus_snapshot(corpus, keep_manifests=1, min_age_seconds=0)
    left = [
        n for n in __import__("os").listdir(f"{corpus}/_manifests")
        if n.startswith("v")
    ]
    assert len(left) == 2

    # QUIESCENCE: an idle sync commits NOTHING anywhere — the cursor
    # never chases the registry's own cursor-only commits, so the logs
    # stop growing the moment content stops
    cv = M.read_manifest(corpus)["version"]
    iv = M.read_manifest(idx)["version"]
    out = sync_lex_index(spark, corpus, idx)
    assert all(a["action"] != "applied" for a in out["applied"])
    assert M.read_manifest(corpus)["version"] == cv
    assert M.read_manifest(idx)["version"] == iv

    # retire the consumer: nothing pins any more
    C.unregister_corpus_consumer(corpus, idx)
    assert key not in C.registered_sync_cursors(corpus)


def test_waived_vacuum_makes_lagging_sync_raise_retention_hint(
    spark, docs, tmp_path
):
    """ignore_consumers=True is the explicit override: the reclaimed
    history makes the lagging sync fail LOUDLY with the vacuum hint
    (never silently skip commits)."""
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    C.build_corpus_snapshot(
        docs.where(F.col("doc_id") % 3 == 0), corpus,
        key="doc_id", partition_by=["lang"],
    )
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).limit(0), idx, n_buckets=4,
    )
    sync_lex_index(spark, corpus, idx)
    C.append_corpus_snapshot(corpus, docs.where(F.col("doc_id") % 3 == 1))
    C.append_corpus_snapshot(corpus, docs.where(F.col("doc_id") % 3 == 2))
    C.vacuum_corpus_snapshot(
        corpus, keep_manifests=1, min_age_seconds=0, ignore_consumers=True
    )
    with pytest.raises(FileNotFoundError, match="vacuum"):
        sync_lex_index(spark, corpus, idx)


def test_sync_compact_over_bounds_fragmentation(
    spark, docs, tmp_path, probes
):
    """compact_over on the sync mirrors the sinks' policy: every
    applied commit appends one generation per touched bucket, so a
    long-synced index fragments — past the threshold the sync runs the
    compaction itself, results bit-equal."""
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    C.build_corpus_snapshot(
        docs.where(F.col("doc_id") % 5 == 0), corpus,
        key="doc_id", partition_by=["lang"],
    )
    L.build_lex_index(
        C.load_corpus_snapshot(spark, corpus).limit(0), idx, n_buckets=2,
    )
    sync_lex_index(spark, corpus, idx)
    for m in range(1, 5):
        C.append_corpus_snapshot(corpus, docs.where(F.col("doc_id") % 5 == m))
        sync_lex_index(spark, corpus, idx)  # no policy: fragments
    snap = M.read_manifest(idx)
    frag = max(M.part_file_counts(idx, "postings", snap).values())
    assert frag >= 5  # one generation per applied commit
    want = _lex_topk(spark, idx, probes)

    out = sync_lex_index(spark, corpus, idx, compact_over=1)
    assert out["compacted"] is True
    snap2 = M.read_manifest(idx)
    assert max(M.part_file_counts(idx, "postings", snap2).values()) <= 1
    assert _lex_topk(spark, idx, probes) == want  # bit-equal

    # under the threshold: the policy is a no-op
    out = sync_lex_index(spark, corpus, idx, compact_over=8)
    assert out["compacted"] is False


def test_sq8_routing_drift_triggers_rebuild(spark, tmp_path):
    """The codec-INDEPENDENT routing-drift signal (VERDICT r13 ask #1):
    an SQ8-coded IVF index has no quantization signal (codes are
    self-contained) but its cell routing is pinned to build-time
    centroids, so a distribution shift must still trip
    ``rebuild_over`` — via route_sum/route_rows accounting. Mirrors
    test_ann_drift_triggers_rebuild_and_restores_recall with
    codec='sq8': (a) in-distribution appends never trigger, (b) a
    shifted append trips the rebuild, which restores the >=0.8 recall
    floor on drifted-region queries."""
    import random

    from auto_data_linkage_spark.operators.similarity import (
        brute_force_topk,
    )

    rnd = random.Random(23)
    DIM, K = 16, 6
    centers = [[rnd.uniform(-3, 3) for _ in range(DIM)] for _ in range(K)]

    def mk(i, shift=0.0):
        c = centers[i % K]
        return [c[d] + rnd.gauss(0, 0.15) + shift for d in range(DIM)]

    def frame(ids, shift=0.0):
        return spark.createDataFrame(
            [(i, mk(i, shift), int(i) % 2) for i in ids],
            "vec_id long, embedding array<double>, part int",
        )

    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "idx")
    C.build_corpus_snapshot(
        frame(range(600)), corpus, key="vec_id", partition_by=["part"]
    )
    A.build_ann_index(
        C.load_corpus_snapshot(spark, corpus).select("vec_id", "embedding"),
        idx, codec="sq8", n_cells=K,
    )
    meta = A.load_ann_index(spark, idx).meta
    # no quantization baseline (self-contained codes) — but a routing one
    assert meta["recon_err"] is None and meta["route_err"] is not None

    # (a) in-distribution append: routing drift stays under threshold
    C.append_corpus_snapshot(corpus, frame(range(600, 900)))
    out = sync_ann_index(spark, corpus, idx, since=1, rebuild_over=0.05)
    assert out["drift"] is not None and out["drift"] <= 0.05
    assert out["rebuilt"] is False

    # (b) shifted append: the ROUTING signal trips, rebuild fires
    C.append_corpus_snapshot(corpus, frame(range(9000, 9300), shift=4.0))
    out = sync_ann_index(spark, corpus, idx, rebuild_over=0.05)
    assert out["drift"] > 0.05 and out["rebuilt"] is True

    # the rebuild reset baseline + accounting (codec preserved)
    meta = A.load_ann_index(spark, idx).meta
    assert meta["codec"] == "sq8"
    assert A.ann_drift(meta) is None and not meta.get("route_rows")

    # recall floor on drifted-region queries vs exact brute force
    full = C.load_corpus_snapshot(spark, corpus).select(
        "vec_id", "embedding"
    ).localCheckpoint(eager=True)
    queries = full.where(F.col("vec_id") >= 9000).limit(10)
    exact = {}
    for r in brute_force_topk(full, queries, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in A.ann_index_topk(
        A.load_ann_index(spark, idx), queries, k=5, nprobe=3,
    ).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls

    # cursor re-anchored: parameterless re-sync applies nothing
    out = sync_ann_index(spark, corpus, idx, rebuild_over=0.05)
    assert all(a["action"] != "applied" for a in out["applied"])
