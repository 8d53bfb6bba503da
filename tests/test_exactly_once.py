"""Exactly-once streaming appends via the (app_id, batch_id) txn token
(the Delta-style idempotent-sink pattern, manifestfs.txn_version).

The crash window the token closes: foreachBatch COMMITTED the append,
then the process died before the streaming checkpoint advanced —
Structured Streaming replays the batch, and a token-less sink appends
it twice. The replay is simulated exactly as the runtime produces it:
the sink callable invoked again with the SAME batch_id. The token
rides the same atomic manifest commit as the data, so this is true
exactly-once.
"""

import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import annindex as A
from auto_data_linkage_spark.operators import graph as G
from auto_data_linkage_spark.operators import lexindex as L
from auto_data_linkage_spark.operators import manifestfs as M
from auto_data_linkage_spark.operators.retrieval import query_terms_from_docs
from auto_data_linkage_spark.sources import corpusstore as C


# r16 test-tier split: this module is a lifecycle-matrix / property /
# full-catalog sweep — cost is a matrix-sized multiple of a unit test,
# so it runs in the exhaustive tier (pytest -m exhaustive), not the
# default wall-budgeted gate. See pytest.ini + OPTIMIZATION_r16.md.
pytestmark = pytest.mark.exhaustive


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "lang")
        .localCheckpoint(eager=False)
    )


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").localCheckpoint(
        eager=False
    )


def _lex_topk(spark, path, probes):
    idx = L.load_lex_index(spark, path)
    return {
        (r.query_id, r.doc_id, r.bm25, r.rank)
        for r in L.lex_index_topk(idx, probes, k=5).collect()
    }


def test_lex_sink_replay_appends_once(spark, docs, tmp_path):
    root = str(tmp_path / "lex")
    a = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    b = (
        docs.where(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    L.build_lex_index(a, root, n_buckets=4)
    sink = L.lex_index_sink(root, app_id="q1")
    probes = query_terms_from_docs(docs.orderBy("doc_id").limit(5), n_terms=6)
    sink(b, 0)
    n_docs = M.read_manifest(root)["meta"]["n_docs"]
    served = _lex_topk(spark, root, probes)
    sink(b, 0)  # checkpoint replay of the SAME batch
    meta2 = M.read_manifest(root)["meta"]
    assert meta2["n_docs"] == n_docs
    assert M.txn_version(meta2, "q1") == 0
    assert _lex_topk(spark, root, probes) == served
    # the NEXT batch id appends normally
    c = (
        docs.orderBy("doc_id").limit(3)
        .withColumn("doc_id", F.col("doc_id") + 9_000_000)
        .select("doc_id", "text")
    )
    sink(c, 1)
    assert M.read_manifest(root)["meta"]["n_docs"] == n_docs + 3


def test_lex_manifest_replay_skip_is_one_commit_atomic(spark, docs, tmp_path):
    """The token must land in the SAME commit as the data: after the
    replayed batch is skipped, the manifest version is unchanged (no
    empty token-only commit) and history shows exactly one append."""
    root = str(tmp_path / "lex")
    a = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    b = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    L.build_lex_index(a, root, n_buckets=4)
    sink = L.lex_index_sink(root, app_id="q1")
    sink(b, 0)
    v = M.read_manifest(root)["version"]
    sink(b, 0)
    assert M.read_manifest(root)["version"] == v
    assert [h["version"] for h in M.history(root)] == [1, 2]


def test_ann_sink_replay_appends_once(spark, emb, tmp_path):
    root = str(tmp_path / "ann")
    a = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1).localCheckpoint(eager=True)
    A.build_ann_index(a, root)
    sink = A.ann_index_sink(root, app_id="q1")
    sink(b, 0)
    meta = M.read_manifest(root)["meta"]
    sink(b, 0)  # replay
    meta2 = M.read_manifest(root)["meta"]
    assert meta2["n_rows"] == meta["n_rows"]
    assert M.txn_version(meta2, "q1") == 0
    q = emb.orderBy("vec_id").limit(5)
    idx = A.load_ann_index(spark, root)
    ref = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in A.ann_index_topk(idx, q, k=3).collect()
    }
    sink(b, 1)  # a NEW batch id of the same rows DOES append (dup ids)
    assert M.read_manifest(root)["meta"]["n_rows"] == 2 * meta["n_rows"] - a.count()
    assert ref  # served set non-trivial


def test_edge_sink_replay_appends_once(spark, tmp_path):
    root = str(tmp_path / "edges")
    G.init_edge_store(root, n_buckets=4)
    pages = spark.createDataFrame(
        [
            ("http://a.com/1", '<a href="http://b.com/x">b</a>'),
            ("http://b.com/2", '<a href="http://c.com/y">c</a>'),
        ],
        "url string, html string",
    )
    sink = G.edge_store_sink(root, n_buckets=4, app_id="crawl")
    sink(pages, 0)
    edges = {
        (r.src_domain, r.dst_domain, r.n_links)
        for r in G.load_edges(spark, root).collect()
    }
    v = M.read_manifest(root)["version"]
    sink(pages, 0)  # replay: n_links must NOT inflate
    assert {
        (r.src_domain, r.dst_domain, r.n_links)
        for r in G.load_edges(spark, root).collect()
    } == edges
    assert M.read_manifest(root)["version"] == v
    sink(pages, 1)  # a genuinely new batch doubles the counts
    assert {
        (r.src_domain, r.dst_domain, r.n_links)
        for r in G.load_edges(spark, root).collect()
    } == {(s, d, 2 * n) for s, d, n in edges}


def test_corpus_sink_replay_appends_once(spark, docs, tmp_path):
    root = str(tmp_path / "corpus")
    base = docs.where(F.col("doc_id") % 2 == 0)
    C.build_corpus_snapshot(base, root, key="doc_id", partition_by=["lang"])
    batch = (
        docs.where(F.col("doc_id") % 2 == 1).localCheckpoint(eager=True)
    )
    sink = C.corpus_snapshot_sink(root, app_id="ingest")
    sink(batch, 0)
    n = C.load_corpus_snapshot(spark, root).count()
    assert n == docs.count()
    sink(batch, 0)  # replay
    assert C.load_corpus_snapshot(spark, root).count() == n
    assert M.read_manifest(root)["version"] == 2
    nxt = batch.withColumn("doc_id", F.col("doc_id") + 7_000_000)
    sink(nxt, 1)
    assert C.load_corpus_snapshot(spark, root).count() == n + batch.count()


def test_corpus_upsert_sink_replay_is_exactly_once(spark, docs, tmp_path):
    """Replaying a MERGE batch is only idempotent while no later batch
    touched the same keys — the txn token must make the replay a
    no-op. Interleaving: batch 0 sets text=v0 for some keys, batch 1
    revises the same keys to v1, then batch 0 REPLAYS (restart whose
    checkpoint lost the newest commit marker): without the token the
    replay would resurrect v0 over v1."""
    root = str(tmp_path / "corpus")
    C.build_corpus_snapshot(
        docs.limit(40), root, key="doc_id", partition_by=["lang"]
    )
    keys = docs.limit(6).select("doc_id", "lang")
    b0 = keys.withColumn("text", F.lit("v0")).select(
        "doc_id", "text", "lang"
    ).localCheckpoint(eager=True)
    b1 = keys.withColumn("text", F.lit("v1")).select(
        "doc_id", "text", "lang"
    ).localCheckpoint(eager=True)
    base = docs.limit(40).select("doc_id", "text", "lang")
    # store columns are doc_id/text/lang/source/n_chars — rebuild the
    # store with just the three columns so the deltas match
    root = str(tmp_path / "corpus3")
    C.build_corpus_snapshot(
        base, root, key="doc_id", partition_by=["lang"]
    )
    sink = C.corpus_upsert_sink(root, app_id="cdc")
    sink(b0, 0)
    sink(b1, 1)
    v_head = M.read_manifest(root)["version"]
    sink(b0, 0)  # REPLAY of the superseded batch
    cur = C.load_corpus_snapshot(spark, root)
    texts = {
        r["text"]
        for r in cur.join(keys.select("doc_id"), "doc_id").collect()
    }
    assert texts == {"v1"}  # v0 did NOT resurrect
    assert M.read_manifest(root)["version"] == v_head
    sink(b0.withColumn("text", F.lit("v2")), 2)  # new batch still lands
    cur = C.load_corpus_snapshot(spark, root)
    assert {
        r["text"]
        for r in cur.join(keys.select("doc_id"), "doc_id").collect()
    } == {"v2"}


def test_edge_sink_initialises_store_on_first_use(spark, tmp_path):
    """A sink pointed at a path with no store creates one exactly as
    init_edge_store(path, n_buckets=...) would, and its app_id tokens
    make the very first batch exactly-once."""
    root = str(tmp_path / "edges_fresh")
    ref = str(tmp_path / "edges_ref")
    pages = spark.createDataFrame(
        [("http://a.com/1", '<a href="http://b.com/x">b</a>')],
        "url string, html string",
    )
    sink = G.edge_store_sink(root, n_buckets=2, app_id="crawl")
    sink(pages, 0)
    sink(pages, 0)  # checkpoint replay of the SAME batch
    head = M.read_manifest(root)
    assert M.txn_version(head["meta"], "crawl") == 0
    init = G.init_edge_store(ref, n_buckets=2)
    assert {k: v for k, v in head["meta"].items() if k != "txn"} == init["meta"]
    edges = {tuple(r) for r in G.load_edges(spark, root).collect()}
    assert edges == {("a.com", "b.com", 1)}


def test_two_apps_do_not_collide(spark, docs, tmp_path):
    """Tokens are per app_id: two queries (different checkpoint
    lineages) both at batch 0 must BOTH append."""
    root = str(tmp_path / "lex")
    a = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    L.build_lex_index(a, root, n_buckets=4)
    n0 = M.read_manifest(root)["meta"]["n_docs"]
    b = (
        docs.where(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    L.lex_index_sink(root, app_id="q1")(b.limit(4), 0)
    L.lex_index_sink(root, app_id="q2")(b.subtract(b.limit(4)).limit(4), 0)
    meta = M.read_manifest(root)["meta"]
    assert meta["n_docs"] == n0 + 8
    assert M.txn_version(meta, "q1") == 0 and M.txn_version(meta, "q2") == 0


# ------------------------------------------ concurrent same-token writers
# The TOCTOU the entry check alone cannot close (ADVICE r12, medium):
# two writers presenting the SAME (app_id, batch_id) — duplicate sink
# instances, overlapping syncs — can both pass the entry check before
# either commits. The token re-check must be ATOMIC with the commit:
# the mutate closure re-reads it from the fresh snapshot and aborts
# (manifestfs.AlreadyApplied), so exactly one copy of the batch lands.


def test_lex_same_token_interleaved_writers_append_once(
    spark, docs, tmp_path, monkeypatch
):
    root = str(tmp_path / "lex")
    base = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    b = (
        docs.where(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    L.build_lex_index(base, root, n_buckets=4)
    n0 = M.read_manifest(root)["meta"]["n_docs"]
    nb = b.count()

    real_cwr = M.commit_with_retry
    state = {"fired": False}

    def interleave(path, mutate, **kw):
        # the FOLLOWER already passed its entry check and wrote its
        # gens; now (before its commit) the LEADER lands the same
        # (app, batch) in full — exactly the window the advisor named
        if not state["fired"]:
            state["fired"] = True
            L.append_lex_index(b, root, txn=("dup", 0))
        return real_cwr(path, mutate, **kw)

    monkeypatch.setattr(
        "auto_data_linkage_spark.operators.lexindex.M.commit_with_retry",
        interleave,
    )
    out = L.append_lex_index(b, root, txn=("dup", 0))
    snap = M.read_manifest(root)
    assert out["n_docs"] == n0 + nb  # follower reports the leader's state
    assert snap["meta"]["n_docs"] == n0 + nb  # NOT double-counted
    # the postings themselves carry exactly one copy of the batch
    posts = M.read_table(spark, root, "postings", snap)
    dup = (
        posts.groupBy("doc_id", "term").count()
        .where(F.col("count") > 1).count()
    )
    assert dup == 0
    # the follower's orphan generations are reclaimable, invisible now
    assert M.txn_version(snap["meta"], "dup") == 0


def test_corpus_same_token_interleaved_writers_append_once(
    spark, docs, tmp_path, monkeypatch
):
    root = str(tmp_path / "corpus")
    base = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1).localCheckpoint(eager=True)
    C.build_corpus_snapshot(base, root, key="doc_id", partition_by=["lang"])
    n0 = C.load_corpus_snapshot(spark, root).count()
    nb = b.count()

    real_cwr = M.commit_with_retry
    state = {"fired": False}

    def interleave(path, mutate, **kw):
        if not state["fired"]:
            state["fired"] = True
            C.append_corpus_snapshot(root, b, txn=("dup", 0))
        return real_cwr(path, mutate, **kw)

    monkeypatch.setattr(
        "auto_data_linkage_spark.sources.corpusstore.M.commit_with_retry",
        interleave,
    )
    out = C.append_corpus_snapshot(root, b, txn=("dup", 0))
    assert out["rows_written"] == 0 and out["partitions"] == 0
    assert C.load_corpus_snapshot(spark, root).count() == n0 + nb
    dup = (
        C.load_corpus_snapshot(spark, root)
        .groupBy("doc_id").count().where(F.col("count") > 1).count()
    )
    assert dup == 0


def test_ann_same_token_interleaved_writers_append_once(
    spark, emb, tmp_path, monkeypatch
):
    root = str(tmp_path / "ann")
    base = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1).localCheckpoint(eager=True)
    A.build_ann_index(base, root, m=4, n_codewords=8)
    n0 = M.read_manifest(root)["meta"]["n_rows"]
    nb = b.count()

    real_cwr = M.commit_with_retry
    state = {"fired": False}

    def interleave(path, mutate, **kw):
        if not state["fired"]:
            state["fired"] = True
            A.append_ann_index(b, root, txn=("dup", 0))
        return real_cwr(path, mutate, **kw)

    monkeypatch.setattr(
        "auto_data_linkage_spark.operators.annindex.M.commit_with_retry",
        interleave,
    )
    out = A.append_ann_index(b, root, txn=("dup", 0))
    snap = M.read_manifest(root)
    assert out["n_rows"] == n0 + nb  # follower reports the leader's state
    assert snap["meta"]["n_rows"] == n0 + nb  # NOT double-counted
    coded = M.read_table(spark, root, "coded", snap)
    dup = (
        coded.groupBy("neighbor_id").count()
        .where(F.col("count") > 1).count()
    )
    assert dup == 0
    assert M.txn_version(snap["meta"], "dup") == 0
