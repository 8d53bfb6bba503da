"""Commit log in a REAL object store (round 14): S3CommitStore.

Example 18 showed the manifest layout's object-store-safe design with
the log still on local disk; this closes the loop: the commit log
itself lives in an S3 bucket (moto's hermetic mock here — point
``endpoint_url`` at MinIO/R2 or drop it for AWS, nothing else
changes). Every manifest version is a conditional PUT
(``If-None-Match: *``): exactly one writer wins a version, losers see
a clean 412, concurrent-writer 409s and 5xx throttles surface as the
protocol's retryable weather class.

What this demonstrates end-to-end, with the log in the bucket:
1. build -> append -> atomic delete (three conditional PUTs, zero
   local ``_manifests`` directory);
2. the O(1) head read (prefix LIST names-only + one point GET);
3. time travel + history off bucket objects;
4. checkpoint + vacuum reclaiming manifest objects FROM the bucket
   while history survives;
5. the same lifecycle under injected weather (FlakyCommitStore over
   the real backend) landing byte-identical results.

Run: python examples/22_s3_commit_log.py   (~60 s on local[8];
skips politely if moto/boto3 are absent — they are optional deps)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tempfile

from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import lexindex as L
from auto_data_linkage_spark.operators import manifestfs as M
from auto_data_linkage_spark.operators.retrieval import query_terms_from_docs
from auto_data_linkage_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def topk(spark, path, probes):
    idx = L.load_lex_index(spark, path)
    return {
        (r.query_id, r.doc_id, r.bm25, r.rank)
        for r in L.lex_index_topk(idx, probes, k=5).collect()
    }


def main():
    try:
        import boto3
        import moto
    except ImportError:
        print("moto/boto3 not installed (optional) — skipping demo")
        return

    from auto_data_linkage_spark.sources.layout import (
        FlakyCommitStore,
        S3CommitStore,
    )

    spark = get_spark("s3-log-demo", cpus=8)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    probes = query_terms_from_docs(docs.orderBy("doc_id").limit(5), n_terms=6)
    work = tempfile.mkdtemp(prefix="s3_log_demo_")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)

    with moto.mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket="adl-demo")
        # for MinIO/R2: S3CommitStore("adl-demo", "lex/_manifests",
        #                             endpoint_url="http://minio:9000")
        store = S3CommitStore("adl-demo", "lex/_manifests", client=client)

        # --- 1. lifecycle with the log in the bucket -----------------
        path = os.path.join(work, "lex")
        M.use_commit_log(path, store)
        L.build_lex_index(a, path, n_buckets=4)
        L.append_lex_index(b, path)
        L.delete_from_lex_index(spark, path, a.select("doc_id").limit(10))
        assert not os.path.isdir(os.path.join(path, "_manifests"))
        print("log objects in bucket:", store.list_names())

        # --- 2/3. head read + time travel + history ------------------
        head = M.read_manifest(path)  # prefix LIST + one GET
        print("head version:", head["version"])
        v2 = topk(spark, path, probes)  # current
        idx2 = L.load_lex_index(spark, path, version=2)
        print(
            "time travel v2 rows:",
            len({r.doc_id for r in L.lex_index_topk(idx2, probes, k=5).collect()}),
        )
        print("history:", [e["version"] for e in M.history(path)])

        # --- 4. checkpoint + vacuum reclaim bucket objects ------------
        M.checkpoint_manifest_log(path)
        rep = M.vacuum(path, keep_manifests=1, min_age_seconds=0)
        print(
            "vacuum removed", len(rep["removed_manifests"]),
            "manifests; bucket now:", store.list_names(),
        )
        print("history after vacuum:", [e["version"] for e in M.history(path)])
        assert topk(spark, path, probes) == v2

        # --- 5. same lifecycle under real-backend weather -------------
        stormy = os.path.join(work, "lex_stormy")
        inner = S3CommitStore("adl-demo", "stormy/_manifests", client=client)
        flaky = FlakyCommitStore(
            inner, seed=3, fail_rate=0.3, ambiguous_rate=0.3
        )
        M.use_commit_log(stormy, flaky)
        L.build_lex_index(a, stormy, n_buckets=4)
        L.append_lex_index(b, stormy)
        L.delete_from_lex_index(spark, stormy, a.select("doc_id").limit(10))
        print(
            "weather: clean failures =", flaky.stats["clean_failures"],
            "ambiguous successes =", flaky.stats["ambiguous_successes"],
        )
        assert topk(spark, stormy, probes) == v2, "weather changed results"
        print("stormy store == calm store: OK")
        M.clear_commit_log(path)
        M.clear_commit_log(stormy)

    spark.stop()


if __name__ == "__main__":
    main()
