"""Deletion lifecycle for the two persisted indexes (tombstone deltas):
post-delete BM25 must be BIT-EQUAL to an index freshly built without
the deleted documents (the negative-df-delta construction), ANN probes
must re-rank over the survivors, deletes must be idempotent, and
compaction must purge masked rows without changing any probe result.
"""

import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import annindex as A
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


# ------------------------------------------------------------------ lex
def test_lex_reinsert_after_delete_is_live(spark, docs, probes, tmp_path):
    """Revision flow: delete ids, then RE-APPEND the same ids with new
    text — the re-appended rows must serve (sequence-aware tombstones
    mask only rows appended at-or-before the delete), bit-equal to a
    fresh build over the revised corpus. A second delete of a
    re-appended id must work too, and compaction must keep the
    re-appended rows while purging the masked originals."""
    revised_ids = docs.orderBy("doc_id").limit(8).select("doc_id")
    revised = (
        docs.join(revised_ids, "doc_id", "left_semi")
        .withColumn("text", F.concat(F.lit("revised edition "),
                                     F.col("text")))
        .localCheckpoint(eager=True)
    )
    out = str(tmp_path / "lex")
    L.build_lex_index(docs, out, n_buckets=4)
    L.delete_from_lex_index(spark, out, revised_ids)
    L.append_lex_index(revised, out)

    ref = str(tmp_path / "ref")
    L.build_lex_index(
        docs.join(revised_ids, "doc_id", "left_anti").unionByName(revised),
        ref, n_buckets=4,
    )
    assert _lex_topk(spark, out, probes) == _lex_topk(spark, ref, probes)
    assert (
        L.load_lex_index(spark, out).meta["n_docs"]
        == L.load_lex_index(spark, ref).meta["n_docs"]
    )

    # second revision cycle of the SAME ids
    twice = revised.withColumn(
        "text", F.concat(F.lit("third edition "), F.col("text"))
    ).localCheckpoint(eager=True)
    L.delete_from_lex_index(spark, out, revised_ids)
    L.append_lex_index(twice, out)
    ref2 = str(tmp_path / "ref2")
    L.build_lex_index(
        docs.join(revised_ids, "doc_id", "left_anti").unionByName(twice),
        ref2, n_buckets=4,
    )
    want = _lex_topk(spark, ref2, probes)
    assert _lex_topk(spark, out, probes) == want

    # compaction purges the two masked editions, keeps the third
    L.compact_lex_index(spark, out, max_files_per_bucket=1)
    assert _lex_topk(spark, out, probes) == want
    posts = L.load_lex_index(spark, out).postings
    per_id = (
        posts.join(revised_ids, "doc_id", "left_semi")
        .select("doc_id", "__seq").distinct()
        .groupBy("doc_id").count()
    )
    assert per_id.where(F.col("count") != 1).count() == 0


def test_append_restamps_when_a_delete_interleaves(
    spark, docs, probes, tmp_path, monkeypatch
):
    """The stale-stamp race: append B stamps its rows __seq=2 against
    counter 1; while B races its merge, append A commits (counter→2)
    and THEN a takedown of B's very ids cuts tombstones at 2 — a blind
    manifest merge would land B's rows already masked (B committed
    after the takedown, yet __seq 2 <= cut 2). B must detect the fresh
    cut, re-run fully with a fresh stamp, and its rows must serve."""
    ids = docs.orderBy("doc_id").limit(4).select("doc_id")
    revised = (
        docs.join(ids, "doc_id", "left_semi")
        .withColumn("text", F.lit("unique xylocarp restamp text"))
        .localCheckpoint(eager=True)
    )
    other = (
        docs.orderBy(F.col("doc_id").desc()).limit(3)
        .withColumn("doc_id", F.col("doc_id") + 8_000_000)
        .localCheckpoint(eager=True)
    )
    out = str(tmp_path / "lex")
    L.build_lex_index(docs, out, n_buckets=4)

    real = M.commit_manifest
    state = {"armed": True}

    def delete_sneaks_in(path, **kw):
        if state["armed"]:
            state["armed"] = False
            # between B's snapshot read and B's commit: append A moves
            # the counter, then a takedown of B's ids cuts AT it
            monkeypatch.setattr(M, "commit_manifest", real)
            L.append_lex_index(other, out)
            L.delete_from_lex_index(spark, out, ids)
            monkeypatch.setattr(M, "commit_manifest", delete_sneaks_in)
        return real(path, **kw)

    monkeypatch.setattr(M, "commit_manifest", delete_sneaks_in)
    L.append_lex_index(revised, out)
    monkeypatch.setattr(M, "commit_manifest", real)

    # the appended revisions SERVE (a blind merge would have masked them)
    from auto_data_linkage_spark.operators.retrieval import (
        query_terms_from_docs,
    )

    q = query_terms_from_docs(revised.limit(2), n_terms=4)
    hits = _lex_topk(spark, out, q)
    assert hits and {h[1] for h in hits} & {
        r.doc_id for r in ids.collect()
    }


def test_delete_masks_an_append_that_raced_a_rebuild(
    spark, docs, tmp_path, monkeypatch
):
    """The counter-reset race: after one append the counter is 2, so
    append B stamps its rows __seq=3. While B races its merge, a rebuild
    with unchanged parameters commits; B's parameter keys still match,
    so B merges into the rebuilt store. A later takedown of B's ids must
    mask them: a rebuild that restarted the counter at 1 would leave it
    at 2 after B, and a cut at 2 misses stamp 3."""
    ids = [9_000_001, 9_000_002]
    raced = spark.createDataFrame(
        [(i, "unique xylocarp quillwort rebuild race") for i in ids],
        "doc_id long, text string",
    )
    other = (
        docs.orderBy(F.col("doc_id").desc()).limit(3)
        .withColumn("doc_id", F.col("doc_id") + 8_000_000)
        .localCheckpoint(eager=True)
    )
    out = str(tmp_path / "lex")
    L.build_lex_index(docs, out, n_buckets=4)
    L.append_lex_index(other, out)
    seq_before = M.read_manifest(out)["meta"]["seq"]

    real = M.commit_manifest
    state = {"armed": True}

    def rebuild_sneaks_in(path, **kw):
        if state["armed"]:
            state["armed"] = False
            monkeypatch.setattr(M, "commit_manifest", real)
            L.rebuild_lex_index(docs, out, n_buckets=4)
            monkeypatch.setattr(M, "commit_manifest", rebuild_sneaks_in)
        return real(path, **kw)

    monkeypatch.setattr(M, "commit_manifest", rebuild_sneaks_in)
    L.append_lex_index(raced, out)
    monkeypatch.setattr(M, "commit_manifest", real)

    q = query_terms_from_docs(raced, n_terms=4)
    assert {h[1] for h in _lex_topk(spark, out, q)} & set(ids)
    L.delete_from_lex_index(spark, out, ids)
    served = {h[1] for h in _lex_topk(spark, out, q)}
    assert not served & set(ids), f"deleted ids still served: {served}"
    # the counter never went down: the rebuild and the append each moved it
    assert M.read_manifest(out)["meta"]["seq"] == seq_before + 2


def test_lex_delete_bit_equals_fresh_build(spark, docs, probes, tmp_path):
    keep = docs.where(F.col("doc_id") % 3 != 0)
    victims = [r.doc_id for r in docs.where(F.col("doc_id") % 3 == 0)
               .select("doc_id").collect()]

    full = str(tmp_path / "lex_full")
    L.build_lex_index(docs, full, n_buckets=8)
    out = L.delete_from_lex_index(spark, full, victims)
    assert out["deleted"] == len(victims)

    fresh = str(tmp_path / "lex_fresh")
    meta = L.build_lex_index(keep, fresh, n_buckets=8)
    # exact stats: n_docs and sum_dl match the fresh build
    assert out["meta"]["n_docs"] == meta["n_docs"]
    assert out["meta"]["sum_dl"] == meta["sum_dl"]
    # bit-equal serving: idf (negative df deltas), avgdl, candidates
    assert _lex_topk(spark, full, probes) == _lex_topk(spark, fresh, probes)


def test_lex_delete_idempotent_and_absent_ids(spark, docs, tmp_path):
    out_dir = str(tmp_path / "lex_idem")
    L.build_lex_index(docs, out_dir, n_buckets=4)
    n0 = L.load_lex_index(spark, out_dir).meta["n_docs"]
    first = L.delete_from_lex_index(spark, out_dir, [0, 1])
    again = L.delete_from_lex_index(spark, out_dir, [0, 1])
    assert first["deleted"] == 2 and again["deleted"] == 0
    ghost = L.delete_from_lex_index(spark, out_dir, [10**12])
    assert ghost["deleted"] == 0
    assert ghost["meta"]["n_docs"] == n0 - 2


def test_lex_delete_then_append_equals_union_build(
    spark, docs, probes, tmp_path
):
    """delete(B) then append(C) must serve exactly like build(A ∪ C):
    the negative df deltas and the appended positives compose."""
    a = docs.where(F.col("doc_id") % 3 == 0)
    b = docs.where(F.col("doc_id") % 3 == 1)
    c = docs.where(F.col("doc_id") % 3 == 2)

    evolving = str(tmp_path / "lex_evolve")
    L.build_lex_index(a.unionByName(b), evolving, n_buckets=8)
    L.delete_from_lex_index(
        spark, evolving, b.select("doc_id")
    )
    L.append_lex_index(c, evolving)

    ref = str(tmp_path / "lex_ref")
    L.build_lex_index(a.unionByName(c), ref, n_buckets=8)
    assert _lex_topk(spark, evolving, probes) == _lex_topk(
        spark, ref, probes
    )


def test_lex_compaction_purges_tombstoned_rows(
    spark, docs, probes, tmp_path
):
    out_dir = str(tmp_path / "lex_purge")
    L.build_lex_index(docs.where(F.col("doc_id") % 2 == 0), out_dir,
                      n_buckets=4)
    L.append_lex_index(docs.where(F.col("doc_id") % 2 == 1), out_dir)
    victims = [r.doc_id for r in docs.where(F.col("doc_id") % 5 == 0)
               .select("doc_id").collect()]
    L.delete_from_lex_index(spark, out_dir, victims)
    want = _lex_topk(spark, out_dir, probes)

    L.compact_lex_index(spark, out_dir, max_files_per_bucket=1)
    assert _lex_topk(spark, out_dir, probes) == want
    # physically gone from the rewritten postings
    idx = L.load_lex_index(spark, out_dir)
    remaining = idx.postings.where(F.col("doc_id").isin(victims)).count()
    assert remaining == 0
    # merged terms carry no zero/negative df rows
    bad = (
        idx.terms
        .groupBy("term").agg(F.sum("df").alias("df"))
        .where(F.col("df") <= 0).count()
    )
    assert bad == 0


def test_lex_compaction_removes_fully_emptied_buckets(
    spark, docs, probes, tmp_path
):
    """A bucket emptied ENTIRELY by the tombstone purge must drop out of
    the live manifest, not stay as a zero-file husk — pinning the same
    explicit empty-bucket path the edge store has. Deleting every doc
    empties every bucket of both tables."""
    out_dir = str(tmp_path / "lex_allgone")
    sub = docs.limit(40)
    L.build_lex_index(sub, out_dir, n_buckets=2)
    L.delete_from_lex_index(spark, out_dir, sub.select("doc_id"))
    L.compact_lex_index(spark, out_dir, max_files_per_bucket=0)
    live = M.read_manifest(out_dir)["tables"]
    for table in ("postings", "terms"):
        assert not live.get(table)
    # the store still loads (schema from metadata) and serves empty
    assert _lex_topk(spark, out_dir, probes) == set()


# ------------------------------------------------------------------ ann
def test_ann_delete_reranks_survivors(spark, sf_dir, tmp_path):
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    out_dir = str(tmp_path / "ann_del")
    meta0 = A.build_ann_index(vecs, out_dir, m=4, n_codewords=8)
    queries = vecs.orderBy("vec_id").limit(5)

    full = A.ann_index_topk(
        A.load_ann_index(spark, out_dir), queries, k=50, nprobe=2
    ).collect()
    victims = sorted({r.neighbor_id for r in full})[:5]

    out = A.delete_from_ann_index(spark, out_dir, victims)
    assert out["deleted"] == 5
    assert out["meta"]["n_rows"] == meta0["n_rows"] - 5

    got = A.ann_index_topk(
        A.load_ann_index(spark, out_dir), queries, k=10, nprobe=2
    ).collect()
    assert not {r.neighbor_id for r in got} & set(victims)
    # expected = the full run minus victims, re-ranked per query
    by_q = {}
    for r in sorted(full, key=lambda r: (r.query_id, r.rank)):
        if r.neighbor_id not in victims:
            by_q.setdefault(r.query_id, []).append((r.neighbor_id, r.cosine))
    want = {
        (q, nid, cos, i + 1)
        for q, lst in by_q.items()
        for i, (nid, cos) in enumerate(lst[:10])
    }
    assert {(r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in got} == want


def test_ann_reinsert_after_delete_is_live(spark, sf_dir, tmp_path):
    """Revision flow on the ANN index: deleted ids re-appended with new
    vectors must serve their NEW rows (sequence-aware mask), equal to
    build+append with the revised vectors; n_rows stays exact and
    compaction keeps exactly one live row per revised id."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    victims = vecs.orderBy("vec_id").limit(5).select("vec_id")
    revised = (
        vecs.join(victims, "vec_id", "left_semi")
        .withColumn(
            "embedding",
            F.reverse(F.col("embedding")),  # a genuinely different vector
        )
        .localCheckpoint(eager=True)
    )
    out = str(tmp_path / "ann")
    A.build_ann_index(vecs, out, m=4, n_codewords=8)
    A.delete_from_ann_index(spark, out, victims)
    A.append_ann_index(revised, out)

    ref = str(tmp_path / "ref")
    A.build_ann_index(
        vecs.join(victims, "vec_id", "left_anti"), ref,
        m=4, n_codewords=8,
    )
    A.append_ann_index(revised, ref)
    q = vecs.orderBy(F.col("vec_id").desc()).limit(5)
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in A.ann_index_topk(
            A.load_ann_index(spark, out), q, k=10, nprobe=2
        ).collect()
    }
    # codebooks differ (trained with vs without the victims), so
    # compare live CONTENT, not scores: same live row set...
    live_out = _mask_live_rows(spark, out)
    live_ref = _mask_live_rows(spark, ref)
    assert live_out == live_ref
    assert (
        A.load_ann_index(spark, out).meta["n_rows"]
        == A.load_ann_index(spark, ref).meta["n_rows"]
    )
    # ...revised ids ARE in the served candidate space
    idx = A.load_ann_index(spark, out)
    served = A.ann_index_topk(idx, revised, k=1, nprobe=4,
                              exclude_self=False)
    hits = {r.neighbor_id for r in served.collect()}
    assert hits & {r.vec_id for r in victims.collect()}
    assert got is not None

    # compaction keeps exactly one live row per revised id
    A.compact_ann_index(spark, out, max_files_per_cell=1)
    assert _mask_live_rows(spark, out) == live_ref


def _mask_live_rows(spark, path):
    """The index's live id set (tombstone mask applied) — each id must
    appear exactly once for the revision flow to be correct."""
    from auto_data_linkage_spark.operators.lexindex import _mask_tombstoned

    idx = A.load_ann_index(spark, path)
    live = _mask_tombstoned(idx.coded, idx.tombstones, id_col="neighbor_id")
    rows = [r.neighbor_id for r in live.select("neighbor_id").collect()]
    assert len(rows) == len(set(rows)), "an id serves more than one row"
    return set(rows)


def test_ann_delete_idempotent_and_compaction_purges(
    spark, sf_dir, tmp_path
):
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    out_dir = str(tmp_path / "ann_purge")
    A.build_ann_index(
        vecs.where(F.col("vec_id") % 3 == 0), out_dir, m=4, n_codewords=8,
    )
    for m in range(1, 3):
        A.append_ann_index(vecs.where(F.col("vec_id") % 3 == m), out_dir)
    victims = [r.vec_id for r in vecs.where(F.col("vec_id") % 7 == 0)
               .select("vec_id").collect()]
    first = A.delete_from_ann_index(spark, out_dir, victims)
    again = A.delete_from_ann_index(spark, out_dir, victims)
    assert first["deleted"] == len(victims) and again["deleted"] == 0

    queries = vecs.orderBy("vec_id").limit(5)

    def topk():
        return {
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in A.ann_index_topk(
                A.load_ann_index(spark, out_dir), queries, k=5, nprobe=2
            ).collect()
        }

    want = topk()
    A.compact_ann_index(spark, out_dir, max_files_per_cell=1)
    assert topk() == want
    remaining = (
        A.load_ann_index(spark, out_dir).coded
        .where(F.col("neighbor_id").isin(victims))
        .count()
    )
    assert remaining == 0


# ------------------------------------------------------------- rebuild
def test_lex_rebuild_resets_tombstones_and_serves_fresh(
    spark, docs, probes, tmp_path
):
    out_dir = str(tmp_path / "lex_rb")
    L.build_lex_index(docs, out_dir, n_buckets=8)
    L.delete_from_lex_index(
        spark, out_dir, docs.where(F.col("doc_id") % 3 == 0).select("doc_id")
    )
    keep = docs.where(F.col("doc_id") % 3 != 0)
    meta = L.rebuild_lex_index(keep, out_dir, n_buckets=4)
    assert meta["n_buckets"] == 4 and meta["n_docs"] == keep.count()
    idx = L.load_lex_index(spark, out_dir)
    assert idx.tombstones is None  # mask reset by the rebuild
    fresh = str(tmp_path / "lex_rb_ref")
    L.build_lex_index(keep, fresh, n_buckets=4)
    assert _lex_topk(spark, out_dir, probes) == _lex_topk(
        spark, fresh, probes
    )


def test_ann_rebuild_retrains_and_promotes(spark, sf_dir, tmp_path):
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    out_dir = str(tmp_path / "ann_rb")
    A.build_ann_index(vecs.where(F.col("vec_id") % 2 == 0), out_dir,
                      m=4, n_codewords=8)
    A.delete_from_ann_index(spark, out_dir, [0, 2, 4])
    meta = A.rebuild_ann_index(vecs, out_dir, m=4, n_codewords=8)
    assert meta["n_rows"] == vecs.count()
    assert meta["seq"] == 2  # the mutation counter carries forward
    idx = A.load_ann_index(spark, out_dir)
    assert idx.tombstones is None
    queries = vecs.orderBy("vec_id").limit(5)
    got = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in A.ann_index_topk(idx, queries, k=5, nprobe=2).collect()
    }
    fresh = str(tmp_path / "ann_rb_ref")
    A.build_ann_index(vecs, fresh, m=4, n_codewords=8)
    want = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in A.ann_index_topk(
            A.load_ann_index(spark, fresh), queries, k=5, nprobe=2
        ).collect()
    }
    assert got == want
