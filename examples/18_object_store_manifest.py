"""Manifest-committed stores (round 11): the object-store-safe lifecycle.

Every persisted store (lexical and ANN indexes, edge store, linker
state) runs its lifecycle on the immutable-generations + manifest-log
design (operators/manifestfs):

1. ZERO renames anywhere — data lands in fresh ``gen=N`` dirs and a
   mutation becomes visible by atomically CREATING one JSON manifest
   (``O_CREAT|O_EXCL`` locally; a conditional PUT on an object store);
2. every mutation is ONE commit: a DELETE lands its tombstones,
   negative df deltas, and metadata together — a crash before the
   commit leaves *nothing* visible and the retry deletes cleanly;
3. readers PIN the manifest they open: a handle loaded before a
   compaction or a whole-store rebuild keeps serving its snapshot
   bit-exactly while new loads see the new store;
4. reclamation is explicit (``vacuum_lex_index``), like Delta VACUUM.

Run: python examples/18_object_store_manifest.py   (~60 s on local[8])
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tempfile

from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import lexindex as L
from auto_data_linkage_spark.operators import manifestfs as M
from auto_data_linkage_spark.operators.retrieval import (
    query_terms_from_docs,
)
from auto_data_linkage_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def topk(spark, path, probes):
    idx = L.load_lex_index(spark, path)
    return {
        (r.query_id, r.doc_id, r.bm25, r.rank)
        for r in L.lex_index_topk(idx, probes, k=5).collect()
    }


def main():
    spark = get_spark("manifest-demo", cpus=8)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    probes = query_terms_from_docs(docs.orderBy("doc_id").limit(5), n_terms=6)
    work = tempfile.mkdtemp(prefix="manifest_demo_")
    path = os.path.join(work, "lex")

    # 1. build + append: each mutation is one manifest version
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    L.build_lex_index(a, path, n_buckets=8)
    L.append_lex_index(b, path)
    print("manifest version after build+append:",
          M.read_manifest(path)["version"])

    # 2. atomic delete: tombstones + negative df + meta in ONE commit
    victims = docs.where(F.col("doc_id") % 10 == 0).select("doc_id")
    out = L.delete_from_lex_index(spark, path, victims)
    print("deleted:", out["deleted"],
          "(single commit — crash before it = nothing visible)")

    # 3. reader pinning: load BEFORE maintenance, keep serving after
    pinned = L.load_lex_index(spark, path)
    before = {
        (r.query_id, r.doc_id, r.bm25, r.rank)
        for r in L.lex_index_topk(pinned, probes, k=5).collect()
    }
    L.compact_lex_index(spark, path, max_files_per_bucket=1)
    L.rebuild_lex_index(docs, path, n_buckets=4)  # whole-store cutover
    after = {
        (r.query_id, r.doc_id, r.bm25, r.rank)
        for r in L.lex_index_topk(pinned, probes, k=5).collect()
    }
    print("pinned reader unchanged across compact+rebuild:",
          after == before)
    print("fresh load serves the rebuilt store:",
          topk(spark, path, probes) != before)

    # 4. time travel: any retained version replays bit-exactly
    v2 = L.load_lex_index(spark, path, version=2)
    print("version 2 (post-append, pre-delete) still serves:",
          len({r.doc_id for r in L.lex_index_topk(v2, probes, k=5)
               .collect()}) > 0)

    # 5. explicit reclamation
    v = L.vacuum_lex_index(path, keep_manifests=1, min_age_seconds=0)
    print(f"vacuum reclaimed {len(v['removed_gens'])} generations, "
          f"{len(v['removed_manifests'])} old manifests")
    print("store still serves after vacuum:",
          len(topk(spark, path, probes)) > 0)


if __name__ == "__main__":
    main()
