"""Persisted lexical (BM25) index: build/load round-trip and parity with
the inline bm25_topk plan, O(delta) appends (append == union build),
on-disk term-bucket partition pruning, compaction, streaming sink."""

import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import lexindex as L
from auto_data_linkage_spark.operators import manifestfs as M
from auto_data_linkage_spark.operators.retrieval import (
    bm25_topk,
    query_terms_from_docs,
)


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


def _as_set(df):
    return {(r.query_id, r.doc_id, r.bm25, r.rank) for r in df.collect()}


def test_build_load_serve_matches_inline(spark, docs, probes, tmp_path):
    out = str(tmp_path / "lexidx")
    meta = L.build_lex_index(docs, out, n_buckets=16)
    assert meta["n_docs"] == docs.count()
    assert meta["sum_dl"] > 0

    idx = L.load_lex_index(spark, out)
    got = L.lex_index_topk(idx, probes, k=5, exclude_self=True)
    want = bm25_topk(docs, probes, k=5, exclude_self=True)
    assert _as_set(got) == _as_set(want)


def test_append_equals_union_build(spark, docs, probes, tmp_path):
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)

    inc = str(tmp_path / "lex_inc")
    L.build_lex_index(half_a, inc, n_buckets=16)
    meta = L.append_lex_index(half_b, inc)
    assert meta["n_docs"] == docs.count()

    full = str(tmp_path / "lex_full")
    L.build_lex_index(docs, full, n_buckets=16)

    got = L.lex_index_topk(L.load_lex_index(spark, inc), probes, k=5)
    want = L.lex_index_topk(L.load_lex_index(spark, full), probes, k=5)
    assert _as_set(got) == _as_set(want)
    # exact metadata parity too (sum over deltas == one-shot aggregate)
    mi = L.load_lex_index(spark, inc).meta
    mf = L.load_lex_index(spark, full).meta
    assert (mi["n_docs"], mi["sum_dl"]) == (mf["n_docs"], mf["sum_dl"])


def test_probe_scan_partition_prunes(spark, docs, probes, tmp_path):
    """The on-disk contract: a probe reads only the bucket=N/
    directories the query terms hash into."""
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


def test_compaction_merges_and_preserves_results(spark, docs, probes, tmp_path):
    out = str(tmp_path / "lex_cc")
    L.build_lex_index(docs.where(F.col("doc_id") % 4 == 0), out,
                      n_buckets=4)
    for m in range(1, 4):
        L.append_lex_index(docs.where(F.col("doc_id") % 4 == m), out)

    before = L.lex_index_topk(L.load_lex_index(spark, out), probes, k=5)
    before_rows = _as_set(before)
    def term_files():
        return sum(
            M.part_file_counts(out, "terms", M.read_manifest(out)).values()
        )

    files_before = term_files()

    summary = L.compact_lex_index(spark, out, max_files_per_bucket=2)
    assert summary["buckets_rewritten"] > 0
    assert summary["files_after"] < summary["files_before"]
    assert term_files() < files_before

    after = L.lex_index_topk(L.load_lex_index(spark, out), probes, k=5)
    assert _as_set(after) == before_rows
    # terms/ deltas merged back to one row per (bucket, term)
    idx = L.load_lex_index(spark, out)
    dupes = (
        idx.terms.groupBy("bucket", "term")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dupes == 0


def test_min_df_prune_drops_stopword_terms(spark, docs, tmp_path):
    out = str(tmp_path / "lex_sp")
    L.build_lex_index(docs, out, n_buckets=8)
    idx = L.load_lex_index(spark, out)
    # a term present in every document scores nothing under the prune
    common = (
        idx.terms.groupBy("term")
        .agg(F.sum("df").alias("df"))
        .orderBy(F.desc("df"), "term")
        .first()["term"]
    )
    q = docs.sparkSession.createDataFrame([(0, common)], ["query_id", "term"])
    pruned = L.lex_index_topk(idx, q, k=3, min_df_prune=2)
    unpruned = L.lex_index_topk(idx, q, k=3)
    assert pruned.count() == 0
    assert unpruned.count() > 0


def test_empty_query_set(spark, docs, tmp_path):
    out = str(tmp_path / "lex_eq")
    L.build_lex_index(docs.limit(10), out, n_buckets=4)
    idx = L.load_lex_index(spark, out)
    q = docs.sparkSession.createDataFrame([], "query_id bigint, term string")
    assert L.lex_index_topk(idx, q, k=3).count() == 0


def test_version_guard(spark, docs, tmp_path):
    out = str(tmp_path / "lex_v")
    L.build_lex_index(docs.limit(10), out, n_buckets=4)
    snap = M.read_manifest(out)
    M.commit_manifest(
        out, tables=snap["tables"], meta={**snap["meta"], "version": 99},
        expected_version=snap["version"],
    )
    with pytest.raises(ValueError, match="version"):
        L.load_lex_index(spark, out)


def _files(root):
    """Every file under ``root`` with its size and mtime."""
    import os

    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


def test_pre_sequence_counter_indexes_are_refused(
    spark, docs, sf_dir, tmp_path
):
    """One tombstone model: a lex or ANN store whose meta predates the
    sequence counter is refused with the rebuild hint on open, append,
    delete and compact — before anything is read or written."""
    from auto_data_linkage_spark.operators import annindex as A

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    lex, ann = str(tmp_path / "lex_old"), str(tmp_path / "ann_old")
    L.build_lex_index(docs.limit(20), lex, n_buckets=4)
    A.build_ann_index(vecs.limit(40), ann, m=4, n_codewords=4)
    for root in (lex, ann):
        snap = M.read_manifest(root)
        M.commit_manifest(
            root, tables=snap["tables"],
            meta={k: v for k, v in snap["meta"].items() if k != "seq"},
            expected_version=snap["version"],
        )
    calls = {
        lex: (
            lambda: L.load_lex_index(spark, lex),
            lambda: L.append_lex_index(docs.limit(3), lex),
            lambda: L.delete_from_lex_index(spark, lex, [1]),
            lambda: L.compact_lex_index(spark, lex, max_files_per_bucket=0),
        ),
        ann: (
            lambda: A.load_ann_index(spark, ann),
            lambda: A.append_ann_index(vecs.limit(3), ann),
            lambda: A.delete_from_ann_index(spark, ann, [1]),
            lambda: A.compact_ann_index(spark, ann, max_files_per_cell=0),
        ),
    }
    for root, fns in calls.items():
        before = _files(root)
        for fn in fns:
            with pytest.raises(ValueError, match="rebuild"):
                fn()
        assert _files(root) == before


def test_streaming_sink_appends_and_compacts(spark, docs, tmp_path):
    out = str(tmp_path / "lex_stream")
    L.build_lex_index(docs.where(F.col("doc_id") < 100), out,
                      n_buckets=4)

    src_dir = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    batch = docs.where(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 160)
    )
    batch.coalesce(1).write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema(batch.schema).parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(
            L.lex_index_sink(out, compact_over=64)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    idx = L.load_lex_index(spark, out)
    meta = idx.meta
    assert meta["n_docs"] == 100 + batch.count()
    got = idx.postings.select("doc_id").distinct().count()
    assert got == meta["n_docs"]


def test_hybrid_serving_from_both_persisted_indexes(spark, sf_dir, tmp_path):
    """End-to-end disk-served hybrid search: the persisted lexical index
    and the persisted ANN index fuse through rrf_fuse — no corpus pass,
    no re-encode, both sides partition-pruned scans of stored artifacts
    sharing one id space."""
    from auto_data_linkage_spark.operators import annindex as A
    from auto_data_linkage_spark.operators.retrieval import rrf_fuse

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    lex_path = str(tmp_path / "lex")
    ann_path = str(tmp_path / "ann")
    L.build_lex_index(docs, lex_path, n_buckets=8)
    A.build_ann_index(vecs, ann_path, m=4, n_codewords=8)

    probe_docs = docs.orderBy("doc_id").limit(3)
    qterms = query_terms_from_docs(probe_docs, n_terms=6)
    qvecs = vecs.join(
        probe_docs.select("doc_id"), F.col("vec_id") == F.col("doc_id")
    ).select("vec_id", "embedding")

    lex_hits = L.lex_index_topk(
        L.load_lex_index(spark, lex_path), qterms, k=10, exclude_self=True
    )
    ann_hits = A.ann_index_topk(
        A.load_ann_index(spark, ann_path), qvecs, k=10, nprobe=2
    ).withColumnRenamed("neighbor_id", "doc_id")

    fused = rrf_fuse(lex_hits, ann_hits, k=5)
    rows = fused.collect()
    assert len(rows) > 0
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, hits in by_q.items():
        ranks = sorted(h["rank"] for h in hits)
        assert ranks == list(range(1, len(hits) + 1))
        assert len(hits) <= 5


def test_empty_corpus_build_and_probe(spark, tmp_path):
    out = str(tmp_path / "lex_empty")
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    meta = L.build_lex_index(empty, out, n_buckets=4)
    assert meta["n_docs"] == 0 and meta["sum_dl"] == 0
    idx = L.load_lex_index(spark, out)
    q = spark.createDataFrame([(0, "anything")], ["query_id", "term"])
    assert L.lex_index_topk(idx, q, k=3).count() == 0


def test_append_empty_delta_is_noop(spark, docs, tmp_path):
    out = str(tmp_path / "lex_noop")
    before = L.build_lex_index(docs.limit(20), out, n_buckets=4)
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    after = L.append_lex_index(empty, out)
    assert (after["n_docs"], after["sum_dl"]) == (
        before["n_docs"], before["sum_dl"]
    )
