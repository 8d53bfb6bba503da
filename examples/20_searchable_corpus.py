"""A searchable corpus that stays searchable: corpus snapshot +
persisted BM25 index, synchronized incrementally from the commit log.

Storyline: documents live in a corpus snapshot (versioned, atomic
commits). A lexical index serves search. Every corpus change — new
batches (appends) AND document revisions (upserts) — folds into the
index O(delta) via `sync_lex_index`, never a rebuild; revised
documents serve under their NEW text (sequence-aware tombstones), and
a repeated sync is a no-op (the cursor rides the index's own commit).

Run: python examples/20_searchable_corpus.py
"""

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from auto_data_linkage_spark.operators.lexindex import (
    build_lex_index,
    lex_index_topk,
    load_lex_index,
)
from auto_data_linkage_spark.operators.retrieval import query_terms_from_docs
from auto_data_linkage_spark.operators.sync import sync_lex_index
from auto_data_linkage_spark.session import get_spark
from auto_data_linkage_spark.sources.corpusstore import (
    append_corpus_snapshot,
    build_corpus_snapshot,
    load_corpus_snapshot,
    upsert_corpus_snapshot,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    spark = get_spark("searchable-corpus", cpus=8)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    work = tempfile.mkdtemp()
    corpus = os.path.join(work, "corpus")
    index = os.path.join(work, "bm25")

    # v1: the corpus; the index starts EMPTY and the commit log fills it
    build_corpus_snapshot(
        docs.where(F.col("doc_id") % 2 == 0), corpus,
        key="doc_id", partition_by=["lang"],
    )
    build_lex_index(
        load_corpus_snapshot(spark, corpus).limit(0), index,
        n_buckets=8,
    )
    print("initial sync:", sync_lex_index(spark, corpus, index)["applied"])

    # a new batch arrives (v2) — O(delta) on both sides
    append_corpus_snapshot(corpus, docs.where(F.col("doc_id") % 4 == 1))
    print("after append:", sync_lex_index(spark, corpus, index)["applied"])

    # five documents get REVISED (v3) — the revision folds in too:
    # the old rows are forgotten, the new text serves
    revised = docs.orderBy("doc_id").limit(5).withColumn(
        "text", F.lit("breakthrough zymurgy quasar xylophone results")
    )
    upsert_corpus_snapshot(spark, corpus, revised)
    print("after revision:", sync_lex_index(spark, corpus, index)["applied"])

    queries = query_terms_from_docs(revised.limit(2), n_terms=5)
    hits = lex_index_topk(load_lex_index(spark, index), queries, k=3)
    print("revised docs found under their NEW text:")
    hits.show()

    idx_meta = load_lex_index(spark, index).meta
    print(
        "index n_docs:", idx_meta["n_docs"],
        "== corpus rows:", load_corpus_snapshot(spark, corpus).count(),
    )
    print("re-sync is a no-op:", sync_lex_index(spark, corpus, index)["applied"])


if __name__ == "__main__":
    main()
