"""Corpus storage lifecycle: disciplined write → manifest audit →
incremental upsert on a snapshot store → z-ordered layout → BM25
retrieval.

The storage-side companion to 04_pretraining_corpus.py: that example
decides WHICH documents survive; this one shows how the surviving corpus
lives on disk at scale — partition-pruned layout with bounded file
counts, partition-scoped merges committed as one manifest version
(sources/corpusstore.py), multi-column clustering for scan pruning,
and a lexical index probe over the result.

Run: python examples/05_corpus_lifecycle.py     (~1 min on local[8])
"""

import glob
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import retrieval as R
from auto_data_linkage_spark.operators.zorder import zorder_layout
from auto_data_linkage_spark.session import get_spark, load_tables
from auto_data_linkage_spark.sources import corpusstore as C
from auto_data_linkage_spark.sources import layout as L

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_EXAMPLES", "/root/testdata/sf0.001")


def n_files(root: str) -> int:
    return len(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))


def main() -> None:
    spark = get_spark("example-corpus-lifecycle", cpus=8)
    docs = load_tables(spark, SF_DIR)["documents"].select(
        "doc_id", "text", "lang", "source"
    )
    root = os.path.join(tempfile.mkdtemp(prefix="corpus_lifecycle_"), "corpus")

    # 1. Initial write: partition directories get bounded file counts,
    #    rows sorted by doc_id so parquet min/max stats prune id ranges.
    L.write_corpus(docs, root, partition_by=["lang"], sort_by=["doc_id"])
    print(f"wrote {docs.count()} docs → {n_files(root)} files "
          f"({docs.select('lang').distinct().count()} partitions)")

    # 2. Manifest audit: per-partition counts + sort-key ranges.
    man = L.corpus_manifest(
        spark, root, partition_by=["lang"], stat_cols=["doc_id"]
    )
    man.orderBy("lang").show(truncate=False)

    # 3. Incremental batch: one replaced doc + one new doc, merged into
    #    a snapshot store. Only the touched partition is rewritten, into
    #    a fresh generation published by one manifest commit; readers
    #    see the old or the new corpus, never a mix.
    store = root + "_snapshot"
    C.build_corpus_snapshot(
        docs, store, key="doc_id", partition_by=["lang"], sort_by=["doc_id"]
    )
    some = docs.where("lang = 'en'").limit(1).collect()[0]
    delta = spark.createDataFrame(
        [
            (some.doc_id, "updated " + some.text[:40], "en", some.source),
            (10_000_001, "a brand new english document", "en", "ingest-2"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    res = C.upsert_corpus_snapshot(spark, store, delta)
    current = C.load_corpus_snapshot(spark, store)
    print(f"upsert v{res['version']} touched {res['partitions']} "
          f"partition(s), rewrote {res['rows_written']} rows; corpus now "
          f"{current.count()} docs")

    # 4. Z-ordered copy clustered on (doc_id, n_chars-proxy): both
    #    columns' min/max envelopes tighten per file, so range filters
    #    on EITHER column skip row groups.
    curated = current.withColumn("n_tokens", F.size(F.split("text", r"\s+")))
    zroot = root + "_zordered"
    zorder_layout(curated, ["doc_id", "n_tokens"], num_partitions=4).write.parquet(zroot)
    print(f"z-ordered copy: {n_files(zroot)} files")

    # 5. Lexical probe over the curated corpus: BM25 top-3 for probe
    #    queries drawn from the corpus itself.
    probes = R.query_terms_from_docs(
        current.where(F.col("doc_id") % 100 == 0), n_terms=6
    )
    hits = R.bm25_topk(current, probes, k=3, exclude_self=True)
    hits.orderBy("query_id", "rank").show(12, truncate=False)
    print("done")


if __name__ == "__main__":
    main()
