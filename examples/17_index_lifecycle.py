"""Index LIFECYCLE (round 10): manifest commits, deletion, adaptive
refresh — the maintenance story a long-running serving store needs.

1. every mutation is one manifest commit over immutable generations: a
   reader PINS the version it loaded, so an append and a compaction
   committing later never change what it serves; ``version=`` replays
   any retained version, and ``vacuum_lex_index`` reclaims the
   generations no kept version names;
2. ``delete_from_lex_index`` removes documents as DELTAS (tombstone +
   negative df rows): post-delete BM25 equals an index freshly built
   without the docs, exactly;
3. compaction physically purges the masked rows — probe unchanged;
4. ``refresh_pagerank(tol_scaled=...)`` makes warm authority refreshes
   ADAPTIVE: after a small crawl delta the loop stops after a couple
   of updates instead of the fixed schedule, bit-identical to the
   fixed run at the stop point;
5. ``delete_domains_from_edge_store`` takes a spam domain OUT of the
   authority graph as a delta — the next refresh redistributes its
   mass as if it never existed, and re-crawled pages of the domain
   stay masked.

Run: python examples/17_index_lifecycle.py    (~70 s on local[8])
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tempfile

from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import lexindex as L
from auto_data_linkage_spark.operators import manifestfs as M
from auto_data_linkage_spark.operators.graph import (
    delete_domains_from_edge_store,
    edge_store_sink,
    load_edges,
    refresh_pagerank,
)
from auto_data_linkage_spark.operators.retrieval import (
    query_terms_from_docs,
)
from auto_data_linkage_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def topk(spark, path, probes):
    idx = L.load_lex_index(spark, path)
    return sorted(
        map(tuple, L.lex_index_topk(idx, probes, k=5).collect())
    )


def main() -> None:
    spark = get_spark("example-index-lifecycle", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="lifecycle_")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    probes = query_terms_from_docs(
        docs.orderBy("doc_id").limit(3), n_terms=6
    ).localCheckpoint(eager=False)

    # 1. manifest lifecycle: pinned reader, time travel, vacuum
    lex = os.path.join(root, "lex")
    L.build_lex_index(docs.where(F.col("doc_id") % 2 == 0), lex,
                      n_buckets=4)                                # v1
    pinned = L.load_lex_index(spark, lex)
    want = sorted(map(tuple, L.lex_index_topk(pinned, probes, k=5).collect()))
    L.append_lex_index(docs.where(F.col("doc_id") % 2 == 1), lex)  # v2
    L.compact_lex_index(spark, lex, max_files_per_bucket=1)         # v3
    print("versions:", [h["version"] for h in M.history(lex)])
    print("pinned v1 reader unchanged after append + compaction:",
          sorted(map(tuple, L.lex_index_topk(pinned, probes, k=5)
                     .collect())) == want)
    print("version=1 time travel == pinned reader:",
          sorted(map(tuple, L.lex_index_topk(
              L.load_lex_index(spark, lex, version=1), probes, k=5
          ).collect())) == want)
    head = topk(spark, lex, probes)
    reclaimed = L.vacuum_lex_index(lex, keep_manifests=1, min_age_seconds=0)
    print(f"vacuum reclaimed {len(reclaimed['removed_gens'])} generations; "
          "head unchanged:", topk(spark, lex, probes) == head)

    # 2. deletion as deltas: equals a fresh build without the docs
    victims = docs.where(F.col("doc_id") % 5 == 0).select("doc_id")
    out = L.delete_from_lex_index(spark, lex, victims)
    fresh = os.path.join(root, "lex_fresh")
    L.build_lex_index(docs.where(F.col("doc_id") % 5 != 0), fresh,
                      n_buckets=4)
    same = topk(spark, lex, probes) == topk(spark, fresh, probes)
    print(f"deleted {out['deleted']} docs; "
          f"top-k == fresh build without them: {same}")

    # 3. compaction purges the masked rows, probe unchanged
    # (max_files_per_bucket=0: rewrite every bucket so the purge is
    # corpus-wide — a fresh build has one file per bucket, under the
    # default fragmentation threshold)
    before = topk(spark, lex, probes)
    L.compact_lex_index(spark, lex, max_files_per_bucket=0)
    left = (L.load_lex_index(spark, lex).postings
            .join(victims, "doc_id", "left_semi").count())
    print("after compaction: masked rows on disk =", left,
          "| probe unchanged:", topk(spark, lex, probes) == before)

    # 4. adaptive warm authority refresh over the edge store
    store = os.path.join(root, "edges")
    sink = edge_store_sink(store, n_buckets=2)

    def pages(lo, hi):
        # deliberately IRREGULAR link pattern (varying in/out degrees)
        # — a regular circulant graph's fixed point is the uniform
        # vector, which would make every refresh converge instantly
        rows = [
            (f"http://site{i % 9}.com/p{i}",
             f'<a href="http://site{(i * i + 1) % 9}.com/x">t</a>'
             f'<a href="http://hub{(i * 3 + 2) % 4}.net/y">u</a>')
            for i in range(lo, hi)
        ]
        return spark.createDataFrame(rows, ["url", "html"])

    sink(pages(0, 300), 0)
    cold_stats: dict = {}
    ranks = refresh_pagerank(
        spark, store, iterations=60, tol_scaled=10**6,
        stats=cold_stats,
    ).localCheckpoint(eager=True)
    sink(pages(300, 310), 1)  # small crawl delta
    warm_stats: dict = {}
    refresh_pagerank(
        spark, store, prev_ranks=ranks, iterations=60,
        tol_scaled=10**6, stats=warm_stats,
    ).collect()
    print(f"cold refresh: {cold_stats['iterations_run']} iterations; "
          f"warm refresh after a 10-page delta: "
          f"{warm_stats['iterations_run']} iterations")

    # 5. domain takedown: the spammiest hub leaves the graph as a delta
    out = delete_domains_from_edge_store(spark, store, ["hub0.net"])
    domains = {
        r.domain
        for r in refresh_pagerank(spark, store, iterations=5)
        .select("domain").collect()
    }
    survivors = {r.src_domain for r in
                 load_edges(spark, store).collect()} | {
                 r.dst_domain for r in load_edges(spark, store).collect()}
    print(f"takedown deleted={out['deleted']}; hub0.net in refreshed "
          f"ranks: {'hub0.net' in domains}; in edges: "
          f"{'hub0.net' in survivors}")
    spark.stop()


if __name__ == "__main__":
    main()
