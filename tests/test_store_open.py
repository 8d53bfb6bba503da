"""Opening a persisted store handle is job-free: the lexical index, ANN
index and edge store pass the table schemas they recorded at build to
the reader, so no schema-inference job runs before the first query."""

import pytest

from auto_data_linkage_spark.operators import annindex as A
from auto_data_linkage_spark.operators import graph as G
from auto_data_linkage_spark.operators import lexindex as L

# each builder writes a small store and returns a handle opener that
# yields one of the handle's row frames


def _lex(spark, sf_dir, root):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    L.build_lex_index(docs.select("doc_id", "text").limit(20), root, n_buckets=2)
    return lambda: L.load_lex_index(spark, root).postings


def _ann(spark, sf_dir, root):
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    A.build_ann_index(
        vecs.select("vec_id", "embedding", "label").limit(40),
        root, m=4, n_codewords=8,
    )
    return lambda: A.load_ann_index(spark, root).coded


def _edges(spark, sf_dir, root):
    pages = spark.createDataFrame(
        [("http://a.com/1", '<a href="http://b.com/x">b</a>')],
        "url string, html string",
    )
    G.edge_store_sink(root, n_buckets=2)(pages, 0)
    G.delete_domains_from_edge_store(spark, root, ["c.com"])
    return lambda: G.load_edges(spark, root)


def _jobs_launched_by(spark, group, fn) -> list[int]:
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, "handle open")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("build", [_lex, _ann, _edges], ids=["lex", "ann", "edges"])
def test_opening_a_store_handle_launches_no_job(spark, sf_dir, tmp_path, build):
    open_handle = build(spark, sf_dir, str(tmp_path / "store"))
    assert _jobs_launched_by(spark, f"open{build.__name__}", open_handle) == []
    # the handle still serves the stored rows
    assert open_handle().count() > 0
