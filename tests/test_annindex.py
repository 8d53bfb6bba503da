"""Persisted ANN index: build/load round-trip, result parity with the
inline ivfpq path, and on-disk partition pruning."""

import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import annindex as A
from auto_data_linkage_spark.operators import manifestfs as M
from auto_data_linkage_spark.operators.similarity import ivfpq_topk


@pytest.fixture(scope="module")
def vecs(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return df.select("vec_id", "embedding", "label")


@pytest.mark.exhaustive
def test_build_load_roundtrip_matches_inline(spark, vecs, tmp_path):
    out = str(tmp_path / "annidx")
    meta = A.build_ann_index(vecs, out, m=4, n_codewords=8)
    assert meta["n_rows"] == vecs.count()
    assert meta["n_cells"] >= 1

    idx = A.load_ann_index(spark, out)
    assert idx.meta["m"] == 4

    queries = vecs.orderBy("vec_id").limit(5)
    got = A.ann_index_topk(idx, queries, k=5, nprobe=2)
    want = ivfpq_topk(vecs, queries, k=5, nprobe=2, m=4, n_codewords=8)
    as_set = lambda df: {
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in df.collect()
    }
    assert as_set(got) == as_set(want)


def test_served_rerank_matches_inline(spark, vecs, tmp_path):
    out = str(tmp_path / "annidx_rr")
    A.build_ann_index(vecs, out, m=4, n_codewords=8)
    idx = A.load_ann_index(spark, out)
    queries = vecs.orderBy("vec_id").limit(3)
    got = A.ann_index_topk(
        idx, queries, k=3, nprobe=2, rerank_factor=3, corpus=vecs
    )
    want = ivfpq_topk(
        vecs, queries, k=3, nprobe=2, m=4, n_codewords=8, rerank_factor=3
    )
    as_set = lambda df: {
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in df.collect()
    }
    assert as_set(got) == as_set(want)
    with pytest.raises(ValueError, match="true-vector corpus"):
        A.ann_index_topk(idx, queries, k=3, rerank_factor=2)


def test_coded_scan_partition_prunes(spark, vecs, tmp_path):
    """The on-disk contract: probing a cell subset must prune the
    coded parquet scan to the matching cell=N/ directories."""
    out = str(tmp_path / "annidx_pp")
    A.build_ann_index(vecs, out, m=4, n_codewords=8)
    idx = A.load_ann_index(spark, out)
    one_cell = idx.coded.where(F.col("cell") == 0)
    plan = one_cell._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cell" in plan.replace("#", "") or (
        "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:120]
    )


def test_version_guard(spark, vecs, tmp_path):
    out = str(tmp_path / "annidx_v")
    A.build_ann_index(vecs, out, m=4, n_codewords=8)
    snap = M.read_manifest(out)
    M.commit_manifest(
        out, tables=snap["tables"], meta={**snap["meta"], "version": 99},
        expected_version=snap["version"],
    )
    with pytest.raises(ValueError, match="version"):
        A.load_ann_index(spark, out)


def test_append_delta_joins_search_results(spark, vecs, tmp_path):
    """Delta-only growth: append new vectors encoded with the STORED
    codebooks; a reload serves them alongside the original rows, and
    appending equals having built the index on the union."""
    out = str(tmp_path / "annidx_app")
    base = vecs.where(F.col("vec_id") < 400)
    delta = vecs.where(F.col("vec_id") >= 400)
    meta0 = A.build_ann_index(base, out, m=4, n_codewords=8)
    meta1 = A.append_ann_index(delta, out)
    assert meta1["n_rows"] == vecs.count() > meta0["n_rows"]

    idx = A.load_ann_index(spark, out)
    queries = vecs.orderBy("vec_id").limit(5)
    got = A.ann_index_topk(idx, queries, k=5, nprobe=3)
    # union-built reference with the SAME codebooks/centroids: train
    # artifacts on base (as the incremental path did), score the union
    from auto_data_linkage_spark.operators.similarity import (
        build_centroids,
        ivfpq_topk,
        pq_codebooks,
    )

    cents = build_centroids(base, vec_col="embedding", cell_col="label")
    cbs = pq_codebooks(base, m=4, n_codewords=8)
    want = ivfpq_topk(
        vecs, queries, k=5, nprobe=3, centroids=cents, codebooks=cbs
    )
    as_set = lambda df: {
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in df.collect()
    }
    assert as_set(got) == as_set(want)
    # appended ids actually appear somewhere in results
    assert any(r.neighbor_id >= 400 for r in got.collect())


def test_ann_index_sink_streams_vectors_into_index(spark, vecs, tmp_path):
    """Continuous ingestion: a rate-limited vector stream appends into
    the persisted index via foreachBatch; after the stream drains, a
    reload serves the streamed vectors."""
    import os

    out = str(tmp_path / "annidx_stream")
    base = vecs.where(F.col("vec_id") < 450)
    delta = vecs.where(F.col("vec_id") >= 450)
    A.build_ann_index(base, out, m=4, n_codewords=8)

    src_dir = str(tmp_path / "incoming")
    delta.write.parquet(src_dir)
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream.writeStream.foreachBatch(A.ann_index_sink(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    idx = A.load_ann_index(spark, out)
    assert idx.meta["n_rows"] == vecs.count()
    queries = vecs.where(F.col("vec_id") >= 450).limit(2)
    got = A.ann_index_topk(idx, queries, k=3, nprobe=3).collect()
    assert got and any(r.neighbor_id >= 450 for r in got)


def test_compact_ann_index_shrinks_files_same_results(spark, vecs, tmp_path):
    """N appends fragment cell dirs into one file per append; compaction
    must drop the file count and leave ann_index_topk bit-identical."""
    out = str(tmp_path / "annidx_cmp")
    base = vecs.where(F.col("vec_id") < 300)
    A.build_ann_index(base, out, m=4, n_codewords=8)
    for lo, hi in [(300, 350), (350, 400), (400, 450), (450, 10**9)]:
        A.append_ann_index(
            vecs.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)), out
        )
    queries = vecs.orderBy("vec_id").limit(5)
    before = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in A.ann_index_topk(
            A.load_ann_index(spark, out), queries, k=5, nprobe=3
        ).collect()
    }
    n_before = sum(_cell_file_counts(out).values())
    report = A.compact_ann_index(spark, out, max_files_per_cell=2)
    assert report["cells_rewritten"] >= 1
    assert report["files_after"] < n_before == report["files_before"]
    # every cell now within the threshold
    assert max(_cell_file_counts(out).values()) <= 2
    after = {
        (r.query_id, r.neighbor_id, r.cosine, r.rank)
        for r in A.ann_index_topk(
            A.load_ann_index(spark, out), queries, k=5, nprobe=3
        ).collect()
    }
    assert before == after
    # metadata survives with counts intact
    idx = A.load_ann_index(spark, out)
    assert idx.meta["n_rows"] == vecs.count()
    # idempotent: nothing left over the threshold → no-op
    again = A.compact_ann_index(spark, out, max_files_per_cell=2)
    assert again["cells_rewritten"] == 0


def test_append_rejects_unknown_cells(spark, vecs, tmp_path):
    out = str(tmp_path / "annidx_badcell")
    A.build_ann_index(vecs, out, m=4, n_codewords=8)
    bad = vecs.limit(3).withColumn("label", F.lit(987654))
    with pytest.raises(ValueError, match="absent from the index routing"):
        A.append_ann_index(bad, out)


def test_append_updates_meta_incrementally_and_atomically(spark, vecs, tmp_path):
    out = str(tmp_path / "annidx_meta")
    base = vecs.where(F.col("vec_id") < 400)
    m0 = A.build_ann_index(base, out, m=4, n_codewords=8)
    m1 = A.append_ann_index(vecs.where(F.col("vec_id") >= 400), out)
    assert m1["n_rows"] == vecs.count()
    assert set(m1["cells"]) >= set(m0["cells"])
    assert m1["n_cells"] == len(m1["cells"])
    # the append is one manifest commit carrying the updated meta
    head = M.read_manifest(out)
    assert head["version"] == 2
    assert head["meta"] == m1


def test_served_topk_exclude_self_flag(spark, vecs, tmp_path):
    """External-query serving: with exclude_self=False an id-value
    coincidence between query and corpus id spaces keeps the neighbor
    (typically the vector itself at cosine 1.0)."""
    out = str(tmp_path / "annidx_self")
    A.build_ann_index(vecs, out, m=4, n_codewords=8)
    idx = A.load_ann_index(spark, out)
    queries = vecs.orderBy("vec_id").limit(3)
    dropped = A.ann_index_topk(idx, queries, k=5, nprobe=3).collect()
    assert all(r.query_id != r.neighbor_id for r in dropped)
    kept = A.ann_index_topk(
        idx, queries, k=5, nprobe=3, exclude_self=False
    ).collect()
    assert any(r.query_id == r.neighbor_id for r in kept)


@pytest.mark.exhaustive
def test_ann_index_sink_inline_compaction(spark, vecs, tmp_path):
    """compact_over: after the stream drains, no cell directory holds
    more parquet files than the threshold, and results still match a
    fresh load over the full vector set."""
    out = str(tmp_path / "annidx_stream_cmp")
    base = vecs.where(F.col("vec_id") < 400)
    delta = vecs.where(F.col("vec_id") >= 400).repartition(6)
    A.build_ann_index(base, out, m=4, n_codewords=8)

    src_dir = str(tmp_path / "incoming_cmp")
    delta.write.parquet(src_dir)
    stream = (
        spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(A.ann_index_sink(out, compact_over=2))
        .option("checkpointLocation", str(tmp_path / "ckpt_cmp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert max(_cell_file_counts(out).values()) <= 2
    idx = A.load_ann_index(spark, out)
    assert idx.meta["n_rows"] == vecs.count()
    got = A.ann_index_topk(
        idx, vecs.orderBy("vec_id").limit(3), k=3, nprobe=3
    ).collect()
    assert got and len({r.query_id for r in got}) == 3


# ------------------------------------------------------------ SQ8 codec
def test_sq8_index_matches_inline_sq8_when_probing_all(spark, vecs, tmp_path):
    """codec='sq8' + nprobe >= n_cells == the inline sq8_topk (the
    persisted index only adds cell pruning on top of the same scoring)."""
    from auto_data_linkage_spark.operators.similarity import sq8_topk

    out = str(tmp_path / "annidx_sq8")
    meta = A.build_ann_index(vecs, out, codec="sq8")
    assert meta["codec"] == "sq8" and meta["codebooks"] is None
    idx = A.load_ann_index(spark, out)
    queries = vecs.orderBy("vec_id").limit(5)
    got = A.ann_index_topk(idx, queries, k=5, nprobe=meta["n_cells"])
    want = sq8_topk(vecs, queries, k=5)
    as_set = lambda df: {
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in df.collect()
    }
    assert as_set(got) == as_set(want)


def test_sq8_index_append_equals_union_build(spark, vecs, tmp_path):
    """Appending a delta to an sq8 index == building over the union
    when every cell is probed (sq8 encoding has no build-time state to
    drift; only the ROUTING centroids differ by design — append keeps
    the build-time centroids — so nprobe=all removes routing from the
    comparison)."""
    old = vecs.where(F.col("vec_id") % 3 != 0)
    delta = vecs.where(F.col("vec_id") % 3 == 0)
    a, b = str(tmp_path / "inc"), str(tmp_path / "full")
    A.build_ann_index(old, a, codec="sq8")
    A.append_ann_index(delta, a)
    A.build_ann_index(vecs, b, codec="sq8")
    ia, ib = A.load_ann_index(spark, a), A.load_ann_index(spark, b)
    assert ia.meta["n_rows"] == ib.meta["n_rows"] == vecs.count()
    queries = vecs.orderBy("vec_id").limit(4)
    nall = ib.meta["n_cells"]
    as_set = lambda df: {
        (r.query_id, r.neighbor_id, r.cosine, r.rank) for r in df.collect()
    }
    assert as_set(A.ann_index_topk(ia, queries, k=4, nprobe=nall)) == as_set(
        A.ann_index_topk(ib, queries, k=4, nprobe=nall)
    )


def test_sq8_index_rerank_exact(spark, vecs, tmp_path):
    """SQ8-served rerank re-scores against true vectors: every hit's
    cosine equals the brute-force cosine for that pair."""
    from auto_data_linkage_spark.operators.similarity import brute_force_topk

    out = str(tmp_path / "annidx_sq8_rr")
    A.build_ann_index(vecs, out, codec="sq8")
    idx = A.load_ann_index(spark, out)
    queries = vecs.orderBy("vec_id").limit(3)
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in brute_force_topk(vecs, queries, k=50).collect()
    }
    rr = A.ann_index_topk(
        idx, queries, k=3, nprobe=idx.meta["n_cells"], rerank_factor=4,
        corpus=vecs,
    ).collect()
    assert rr
    for r in rr:
        assert exact[(r.query_id, r.neighbor_id)] == r.cosine


def test_build_rejects_unknown_codec(spark, vecs, tmp_path):
    with pytest.raises(ValueError, match="codec"):
        A.build_ann_index(vecs, str(tmp_path / "x"), codec="fp16")


# -------------------------------------------------------- learned cells
def test_build_with_learned_kmeans_cells(spark, vecs, tmp_path):
    """n_cells= learns routing cells from the raw embedding table — no
    label column needed — and search still returns k hits per query."""
    raw = vecs.select("vec_id", "embedding")  # no label column at all
    out = str(tmp_path / "annidx_km")
    meta = A.build_ann_index(raw, out, codec="sq8", n_cells=4)
    assert meta["n_cells"] == 4 and meta["cell_col"] == "__cell"
    idx = A.load_ann_index(spark, out)
    queries = vecs.orderBy("vec_id").limit(5)
    hits = A.ann_index_topk(idx, queries, k=5, nprobe=2).collect()
    assert len(hits) == 25
    # recall sanity vs exact, probing all learned cells
    from auto_data_linkage_spark.operators.similarity import (
        brute_force_topk,
    )

    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(vecs, queries, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in A.ann_index_topk(idx, queries, k=5, nprobe=4).collect()
    }
    assert len(truth & got) >= int(0.9 * len(truth))


def test_append_routes_unlabeled_delta_to_learned_cells(spark, vecs, tmp_path):
    """A delta WITHOUT the cell column routes to its nearest stored
    centroid on append — and is findable afterwards."""
    raw = vecs.select("vec_id", "embedding")
    old = raw.where(F.col("vec_id") % 5 != 0)
    delta = raw.where(F.col("vec_id") % 5 == 0)
    out = str(tmp_path / "annidx_km_inc")
    A.build_ann_index(old, out, codec="sq8", n_cells=3)
    meta = A.append_ann_index(delta, out)
    assert meta["n_rows"] == raw.count()
    idx = A.load_ann_index(spark, out)
    # search FOR a delta row: it must appear as its own best self-match
    probe = delta.limit(2)
    hits = A.ann_index_topk(
        idx, probe, k=1, nprobe=meta["n_cells"], exclude_self=False
    ).collect()
    assert {r.query_id for r in hits} == {r.neighbor_id for r in hits}


def _cell_file_counts(out):
    """Live parquet data-file count per ``cell=N`` of the coded table."""
    return M.part_file_counts(out, "coded", M.read_manifest(out))
