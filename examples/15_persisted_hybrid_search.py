"""Disk-served hybrid search (round 9i/9j): build BOTH persisted
indexes once, then serve lexical + dense + fused top-k in a fresh
session with no corpus pass.

1. ``build_lex_index`` — inverted BM25 index, postings + df stats
   partitioned by term bucket (probes become partition-pruned scans),
2. ``build_ann_index`` — SQ8-coded vectors partitioned by k-means cell,
3. ``lex_index_topk`` / ``ann_index_topk`` — each side serves from its
   stored artifacts only,
4. ``rrf_fuse`` — reciprocal-rank fusion of the two lists (rank-only,
   so BM25 and cosine scales never compare),
5. ``append_lex_index`` — a late batch joins the lexical index at
   O(delta); stats stay exact (append == union-build, no drift).

Run: python examples/15_persisted_hybrid_search.py   (~60 s on local[8])
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import annindex as A
from auto_data_linkage_spark.operators import lexindex as L
from auto_data_linkage_spark.operators.retrieval import (
    query_terms_from_docs,
    rrf_fuse,
)
from auto_data_linkage_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def main() -> None:
    spark = get_spark("persisted-hybrid", cpus=8)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    root = tempfile.mkdtemp(prefix="hybrid_idx_")
    lex_path, ann_path = f"{root}/lex", f"{root}/ann"

    # build once — a corpus pass each; every query after this is
    # partition-pruned scans of the stored artifacts
    head = docs.where(F.col("doc_id") < 400)
    L.build_lex_index(head, lex_path, n_buckets=16)
    A.build_ann_index(
        vecs, ann_path, codec="sq8", n_cells=8, id_col="vec_id"
    )
    print(f"indexes built under {root}")

    probe = docs.orderBy("doc_id").limit(3)
    qterms = query_terms_from_docs(probe, n_terms=6)
    qvecs = vecs.join(
        probe.select("doc_id"), F.col("vec_id") == F.col("doc_id")
    ).select("vec_id", "embedding")

    lex = L.lex_index_topk(
        L.load_lex_index(spark, lex_path), qterms, k=10, exclude_self=True
    )
    dense = A.ann_index_topk(
        A.load_ann_index(spark, ann_path), qvecs, k=10, nprobe=3
    ).withColumnRenamed("neighbor_id", "doc_id")

    print("== lexical top-3 (from the stored inverted index) ==")
    lex.where(F.col("rank") <= 3).orderBy("query_id", "rank").show()
    print("== dense top-3 (from the stored SQ8 index) ==")
    dense.where(F.col("rank") <= 3).orderBy("query_id", "rank").show()
    print("== fused hybrid top-5 ==")
    rrf_fuse(lex, dense, k=5).orderBy("query_id", "rank").show()

    # late corpus batch: O(delta) append, then the same probe sees it
    tail = docs.where(F.col("doc_id") >= 400)
    meta = L.append_lex_index(tail, lex_path)
    print(f"appended {tail.count()} docs; index now n_docs={meta['n_docs']}")
    lex2 = L.lex_index_topk(
        L.load_lex_index(spark, lex_path), qterms, k=5, exclude_self=True
    )
    print("== lexical top-5 after append (new docs now retrievable) ==")
    lex2.orderBy("query_id", "rank").show()

    # maintenance: appends fragment buckets; compaction rewrites them
    # into a fresh generation and cuts over in one manifest commit
    # (readers pinned to the previous version keep serving it; see
    # operators/manifestfs.py), and vacuum_lex_index later reclaims
    # the superseded generations.
    summary = L.compact_lex_index(spark, lex_path, max_files_per_bucket=2)
    print("compacted:", summary)
    spark.stop()


if __name__ == "__main__":
    main()
