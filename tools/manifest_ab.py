"""READ-path cost of the manifest-committed index stores by store state.

Builds lexical (BM25) and ANN (IVF-PQ) indexes at the given scale
factor, then times LOAD (handle open: one manifest JSON read +
DataFrame plan) and PROBE (the full top-k query) separately over R
repetitions, reporting the minimum (quiet-machine estimate) and
median. Three store states are measured:

- ``manifest``      — freshly built, 1 generation per partition;
- ``manifest-frag`` — after 20 appends (21 generations per touched
                       partition — the streaming-sink worst case);
- ``manifest-comp`` — a copy of the fragmented store after one
                       compaction.

All states exist side by side, and each repetition times every state
once, in an order rotated by one from the previous repetition, so
warm-up and ordering bias no state.

Usage: python tools/manifest_ab.py [sf_dir] [reps]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import annindex as A
from auto_data_linkage_spark.operators import lexindex as L
from auto_data_linkage_spark.operators.retrieval import query_terms_from_docs
from auto_data_linkage_spark.session import get_spark


def measure(states: dict, reps: int) -> dict:
    """``{state: (load_fn, probe_fn)}`` → ``{state: {"load": {min,
    median}, "probe": {min, median}}}``; repetition r visits the states
    starting at the r-th, wrapping around."""
    names = list(states)
    secs = {name: {"load": [], "probe": []} for name in names}
    for r in range(reps):
        k = r % len(names)
        for name in names[k:] + names[:k]:
            for kind, fn in zip(("load", "probe"), states[name]):
                t0 = time.perf_counter()
                fn()
                secs[name][kind].append(time.perf_counter() - t0)
    return {
        name: {
            kind: {
                "min": round(min(v), 4),
                "median": round(statistics.median(v), 4),
            }
            for kind, v in by_kind.items()
        }
        for name, by_kind in secs.items()
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark(
        "manifest-ab", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").localCheckpoint(
        eager=True
    )
    probes = query_terms_from_docs(
        docs.orderBy("doc_id").limit(50), n_terms=6
    ).localCheckpoint(eager=True)
    qvecs = emb.orderBy("vec_id").limit(50).localCheckpoint(eager=True)

    work = tempfile.mkdtemp(prefix="manifest_ab_")
    out: dict = {"sf_dir": sf_dir, "reps": reps}
    try:
        # ------------------------------------------------------- lexical
        head = docs.where(F.col("doc_id") % 21 == 0)
        slices = [docs.where(F.col("doc_id") % 21 == i) for i in range(1, 21)]
        fresh = os.path.join(work, "lex_manifest")
        L.build_lex_index(docs, fresh, n_buckets=32)
        frag = os.path.join(work, "lex_frag")
        L.build_lex_index(head, frag, n_buckets=32)
        for s in slices:
            L.append_lex_index(s, frag)

        def lex_load(root):
            return lambda: L.load_lex_index(spark, root)

        def lex_probe(root):
            def run():
                idx = L.load_lex_index(spark, root)
                L.lex_index_topk(idx, probes, k=10).count()

            return run

        comp = os.path.join(work, "lex_comp")
        shutil.copytree(frag, comp)
        L.compact_lex_index(spark, comp, max_files_per_bucket=1)
        out["lex"] = measure(
            {
                name: (lex_load(root), lex_probe(root))
                for name, root in (
                    ("manifest", fresh),
                    ("manifest-frag", frag),
                    ("manifest-comp", comp),
                )
            },
            reps,
        )

        # ----------------------------------------------------------- ann
        afresh = os.path.join(work, "ann_manifest")
        A.build_ann_index(emb, afresh)
        ahead = emb.where(F.col("vec_id") % 21 == 0)
        afrag = os.path.join(work, "ann_frag")
        A.build_ann_index(ahead, afrag)
        for i in range(1, 21):
            A.append_ann_index(emb.where(F.col("vec_id") % 21 == i), afrag)

        def ann_load(root):
            return lambda: A.load_ann_index(spark, root)

        def ann_probe(root):
            def run():
                idx = A.load_ann_index(spark, root)
                A.ann_index_topk(idx, qvecs, k=10, nprobe=2).count()

            return run

        acomp = os.path.join(work, "ann_comp")
        shutil.copytree(afrag, acomp)
        A.compact_ann_index(spark, acomp, max_files_per_cell=1)
        out["ann"] = measure(
            {
                name: (ann_load(root), ann_probe(root))
                for name, root in (
                    ("manifest", afresh),
                    ("manifest-frag", afrag),
                    ("manifest-comp", acomp),
                )
            },
            reps,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
