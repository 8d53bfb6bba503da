"""Corpus layout sinks: file-count discipline, sort clustering and
manifest fidelity; the corpus MERGE and compaction on plain corpus
inputs; the commit-log backends of the manifest protocol."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import manifestfs as M
from auto_data_linkage_spark.sources import corpusstore as C
from auto_data_linkage_spark.sources import layout as L


@pytest.fixture()
def corpus(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", "text", "lang", "source")


def _parquet_files(root):
    return [
        p
        for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        if os.path.basename(p) != "_SUCCESS"
    ]


def test_write_corpus_bounds_files_per_partition(spark, corpus, tmp_path):
    out = str(tmp_path / "corpus")
    L.write_corpus(
        corpus, out, partition_by=["lang", "source"], sort_by=["doc_id"]
    )
    n_parts = corpus.select("lang", "source").distinct().count()
    files = _parquet_files(out)
    # one task per partition value -> exactly one file per directory
    assert len(files) == n_parts
    back = spark.read.parquet(out)
    assert back.count() == corpus.count()
    assert {r.doc_id for r in back.select("doc_id").collect()} == {
        r.doc_id for r in corpus.select("doc_id").collect()
    }


def test_write_corpus_salted_spread(spark, corpus, tmp_path):
    """The salt must spread a hot partition over multiple tasks/files.

    At test scale AQE's partition coalescing re-merges the tiny salted
    partitions (the desirable prod behavior for SMALL partitions — the
    salt only matters once partitions exceed the advisory size), so pin
    the mechanism with coalescing disabled.
    """
    out = str(tmp_path / "salted")
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        L.write_corpus(
            corpus,
            out,
            partition_by=["lang"],
            files_per_partition=3,
        )
    finally:
        spark.conf.set(key, old)
    n_langs = corpus.select("lang").distinct().count()
    files = _parquet_files(out)
    assert n_langs < len(files) <= 3 * n_langs
    assert spark.read.parquet(out).count() == corpus.count()


def test_write_corpus_sorted_within_files(spark, corpus, tmp_path):
    out = str(tmp_path / "sorted")
    L.write_corpus(
        corpus, out, partition_by=["lang"], sort_by=["doc_id"]
    )
    for f in _parquet_files(out):
        ids = [r.doc_id for r in spark.read.parquet(f).collect()]
        assert ids == sorted(ids)


def test_write_corpus_max_records_splits_files(spark, corpus, tmp_path):
    out = str(tmp_path / "capped")
    n = corpus.count()
    L.write_corpus(
        corpus,
        out,
        partition_by=["lang"],
        max_records_per_file=max(1, n // 10),
    )
    # the row cap forces multiple files even with one task per partition
    assert len(_parquet_files(out)) > corpus.select("lang").distinct().count()
    assert spark.read.parquet(out).count() == n


def test_compact_corpus_round_trip(spark, corpus, tmp_path):
    root = str(tmp_path / "messy")
    # small-files damage: one generation per appended chunk, so every
    # partition a chunk reaches gains another file
    chunk = F.col("doc_id") % 4
    C.build_corpus_snapshot(
        corpus.where(chunk == 0), root, key="doc_id",
        partition_by=["lang"], sort_by=["doc_id"],
    )
    for i in (1, 2, 3):
        C.append_corpus_snapshot(root, corpus.where(chunk == i))
    n_langs = corpus.select("lang").distinct().count()
    assert len(_parquet_files(root)) > n_langs
    out = C.compact_corpus_snapshot(spark, root, max_files_per_partition=1)
    assert out["compacted"] and out["version"] == 5
    counts = M.part_file_counts(root, "data", M.read_manifest(root))
    assert len(counts) == n_langs and all(n == 1 for n in counts.values())
    back = C.load_corpus_snapshot(spark, root)
    assert back.count() == corpus.count()
    assert {r.doc_id for r in back.select("doc_id").collect()} == {
        r.doc_id for r in corpus.select("doc_id").collect()
    }


def test_corpus_manifest_counts_and_ranges(spark, corpus, tmp_path):
    out = str(tmp_path / "manifest_src")
    L.write_corpus(corpus, out, partition_by=["lang"], sort_by=["doc_id"])
    man = L.corpus_manifest(
        spark, out, partition_by=["lang"], stat_cols=["doc_id"]
    ).collect()
    want = {
        r.lang: r.n
        for r in corpus.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    got = {r.lang: r.n_rows for r in man}
    assert got == want
    for r in man:
        assert r.min_doc_id <= r.max_doc_id


# ------------------------------------------------------- corpus MERGE
# The one upsert path is the snapshot store (sources/corpusstore.py):
# partition-granular replace, one atomic manifest commit per upsert.


def test_upsert_corpus_merges_and_preserves_untouched(spark, corpus, tmp_path):
    root = str(tmp_path / "upsert")
    C.build_corpus_snapshot(
        corpus, root, key="doc_id", partition_by=["lang"], sort_by=["doc_id"]
    )
    untouched_before = {
        f: os.path.getmtime(f)
        for f in _parquet_files(root)
        if "lang=en" not in f
    }
    en = [r.doc_id for r in corpus.where("lang = 'en'").limit(2).collect()]
    delta = spark.createDataFrame(
        [
            (en[0], "replaced text", "en", "src_new"),   # update
            (10_000_001, "brand new doc", "en", "src_new"),  # insert
        ],
        "doc_id long, text string, lang string, source string",
    )
    res = C.upsert_corpus_snapshot(spark, root, delta)
    assert res["partitions"] == 1
    back = C.load_corpus_snapshot(spark, root)
    assert back.count() == corpus.count() + 1
    got = {r.doc_id: r.text for r in back.where("lang = 'en'").collect()}
    assert got[en[0]] == "replaced text"
    assert got[10_000_001] == "brand new doc"
    assert en[1] in got  # survivor kept
    # untouched partitions: same files, untouched on disk
    untouched_after = {
        f: os.path.getmtime(f)
        for f in _parquet_files(root)
        if "lang=en" not in f
    }
    assert untouched_after == untouched_before


def test_upsert_corpus_first_ingest(spark, corpus, tmp_path):
    """A store built empty (the create-then-stream pattern) takes its
    first rows through an upsert."""
    root = str(tmp_path / "fresh")
    C.build_corpus_snapshot(
        corpus.limit(0), root, key="doc_id", partition_by=["lang"]
    )
    delta = corpus.orderBy("doc_id").limit(10)
    res = C.upsert_corpus_snapshot(spark, root, delta)
    assert res["rows_written"] == 10 and res["version"] == 2
    back = C.load_corpus_snapshot(spark, root)
    assert back.count() == 10
    assert {r.doc_id for r in back.collect()} == {
        r.doc_id for r in delta.collect()
    }


def test_upsert_corpus_multi_partition_cols(spark, corpus, tmp_path):
    root = str(tmp_path / "multi")
    C.build_corpus_snapshot(
        corpus, root, key="doc_id", partition_by=["lang", "source"]
    )
    one = corpus.limit(1).collect()[0]
    delta = spark.createDataFrame(
        [(one.doc_id, "patched", one.lang, one.source)],
        "doc_id long, text string, lang string, source string",
    )
    res = C.upsert_corpus_snapshot(spark, root, delta)
    assert res["partitions"] == 1
    back = C.load_corpus_snapshot(spark, root)
    assert back.count() == corpus.count()
    assert (
        back.where(back.doc_id == one.doc_id).collect()[0].text == "patched"
    )


def test_upsert_corpus_empty_delta_is_noop(spark, corpus, tmp_path):
    root = str(tmp_path / "noop")
    C.build_corpus_snapshot(corpus, root, key="doc_id", partition_by=["lang"])
    before = {f: os.path.getmtime(f) for f in _parquet_files(root)}
    res = C.upsert_corpus_snapshot(spark, root, corpus.limit(0))
    assert res == {"partitions": 0, "rows_written": 0, "version": 1}
    assert {f: os.path.getmtime(f) for f in _parquet_files(root)} == before
    # no new manifest version either
    assert M.read_manifest(root)["version"] == 1
    assert [h["version"] for h in C.corpus_snapshot_history(root)] == [1]


# --------------------------------------------- optimistic concurrency
def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_upsert_versioned_sequential_versions(spark, tmp_path):
    root = str(tmp_path / "vc")
    C.build_corpus_snapshot(
        _mk(spark, [(1, "en", "a"), (2, "de", "b")]), root,
        key="doc_id", partition_by=["lang"],
    )
    assert M.read_manifest(root)["version"] == 1
    r2 = C.upsert_corpus_snapshot(spark, root, _mk(spark, [(3, "en", "c")]))
    assert r2["version"] == 2 and r2["partitions"] == 1
    got = sorted(
        (r.doc_id, r.lang, r.text)
        for r in C.load_corpus_snapshot(spark, root).collect()
    )
    assert got == [(1, "en", "a"), (2, "de", "b"), (3, "en", "c")]
    # empty delta commits nothing, version unchanged
    r3 = C.upsert_corpus_snapshot(
        spark, root, _mk(spark, []).where(F.lit(False))
    )
    assert r3 == {"partitions": 0, "rows_written": 0, "version": 2}
    assert [h["op"] for h in C.corpus_snapshot_history(root)] == [
        "build", "upsert"
    ]


def test_upsert_versioned_interleaved_writers_lose_no_update(
    spark, tmp_path, monkeypatch
):
    """The lost-update interleave: both writers MERGE against the same
    snapshot of the SAME partition (forced by a barrier after each has
    written its generation), then race to commit. The loser must see
    the version taken, re-run its merge against the winner's commit and
    land next — both deltas survive. Plain dynamic partition overwrite
    keeps only the last writer's."""
    import threading

    root = str(tmp_path / "race")
    C.build_corpus_snapshot(
        _mk(spark, [(1, "en", "base")]), root,
        key="doc_id", partition_by=["lang"],
    )

    real = M.write_gen
    barrier = threading.Barrier(2, timeout=30)
    first_round = {"a": True, "b": True}

    def stalled(*a, **k):
        out = real(*a, **k)
        tag = threading.current_thread().name
        if first_round[tag]:
            first_round[tag] = False
            barrier.wait()  # both writers hold their stale snapshot
        return out

    monkeypatch.setattr(M, "write_gen", stalled)

    results, errors = {}, {}

    def writer(tag, rows):
        try:
            results[tag] = C.upsert_corpus_snapshot(
                spark, root, _mk(spark, rows)
            )
        except Exception as e:  # pragma: no cover - surfaced below
            errors[tag] = e

    ta = threading.Thread(
        target=writer, name="a", args=("a", [(2, "en", "from_a")])
    )
    tb = threading.Thread(
        target=writer, name="b", args=("b", [(3, "en", "from_b")])
    )
    ta.start(); tb.start(); ta.join(60); tb.join(60)
    assert not errors, errors

    got = sorted(
        (r.doc_id, r.text)
        for r in C.load_corpus_snapshot(spark, root).collect()
    )
    # no lost update: base + both writers' rows all present
    assert got == [(1, "base"), (2, "from_a"), (3, "from_b")]
    assert sorted(r["version"] for r in results.values()) == [2, 3]


# ---------------------------------------------------------- CommitStore
# The log primitives the manifest protocol (operators/manifestfs.py)
# uses, against the in-memory conditional-put backend (the object-store
# stand-in) and the moto-backed S3 backend.


def _s3_store():
    """moto-backed S3CommitStore, or a skip when moto/boto3 is absent
    (optional dependencies). Returns (store, mock); the CALLER must
    stop the mock at teardown — leaving it running turns every later
    ``moto.mock_aws()`` context in the process into a NESTED mock
    whose exit does not reset state, leaking objects across tests
    (observed: test_s3commitstore seeing another test's keys)."""
    moto = pytest.importorskip("moto")
    import boto3

    mock = moto.mock_aws()
    mock.start()
    client = boto3.client("s3", region_name="us-east-1")
    client.create_bucket(Bucket="commit-log-test")
    store = L.S3CommitStore(
        "commit-log-test", "stores/lex/_manifests", client=client
    )
    return store, mock


@pytest.fixture(params=["memory", "s3"])
def commit_store(request):
    if request.param == "s3":
        store, mock = _s3_store()
        try:
            yield store
        finally:
            mock.stop()
    else:
        yield L.MemoryCommitStore()


def test_commit_store_create_exclusive_once(commit_store):
    assert commit_store.create_exclusive("v1.json", {"version": 1})
    assert not commit_store.create_exclusive("v1.json", {"version": 1})
    assert commit_store.list_records()["v1.json"]["version"] == 1


def test_commit_store_remove(commit_store):
    commit_store.create_exclusive("v1.json", {"version": 1})
    commit_store.remove("v1.json")
    assert "v1.json" not in commit_store.list_records()
    assert commit_store.get("v1.json") is None
    commit_store.remove("v1.json")  # idempotent: vacuum re-runs are safe


def test_upsert_versioned_runs_on_memory_store(spark, tmp_path):
    """The corpus MERGE through the conditional-put log backend: the
    data files still land under the corpus path, the versions still
    linearize, and no manifest file touches the local disk."""
    root = str(tmp_path / "memstore")
    M.use_commit_log(root, L.MemoryCommitStore())
    try:
        C.build_corpus_snapshot(
            _mk(spark, [(1, "en", "a"), (2, "de", "b")]), root,
            key="doc_id", partition_by=["lang"],
        )
        r2 = C.upsert_corpus_snapshot(
            spark, root, _mk(spark, [(1, "en", "A2")])
        )
        assert r2["version"] == 2
        loaded = {
            r.doc_id: r.text
            for r in C.load_corpus_snapshot(spark, root)
            .select("doc_id", "text").collect()
        }
        assert loaded == {1: "A2", 2: "b"}
        assert [h["version"] for h in C.corpus_snapshot_history(root)] == [
            1, 2
        ]
        assert _parquet_files(root)
        assert not os.path.isdir(os.path.join(root, "_manifests"))
    finally:
        M.clear_commit_log(root)
