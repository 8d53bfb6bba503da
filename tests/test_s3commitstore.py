"""S3CommitStore: the real object-store commit-log backend
(VERDICT r13 ask #6) — the manifest protocol's three fast-path
primitives (``list_names``/``get``/``age_seconds``) exercised against
an actual S3 API (moto, hermetic), not a contract stand-in, plus the
full index lifecycle and FlakyCommitStore weather composed over it.

moto/boto3 are OPTIONAL dependencies: the whole module skips when they
are absent, mirroring the library's import-guarded backend."""

import json
import os

import pytest
from pyspark.sql import functions as F

moto = pytest.importorskip("moto")
boto3 = pytest.importorskip("boto3")
from botocore.exceptions import ClientError  # noqa: E402

from auto_data_linkage_spark.operators import lexindex as L  # noqa: E402
from auto_data_linkage_spark.operators import manifestfs as M  # noqa: E402
from auto_data_linkage_spark.sources.layout import (  # noqa: E402
    FlakyCommitStore,
    S3CommitStore,
)

BUCKET = "adl-commit-log"


# r16 test-tier split: this module is a lifecycle-matrix / property /
# full-catalog sweep — cost is a matrix-sized multiple of a unit test,
# so it runs in the exhaustive tier (pytest -m exhaustive), not the
# default wall-budgeted gate. See pytest.ini + OPTIMIZATION_r16.md.
pytestmark = pytest.mark.exhaustive


def _vname(v: int) -> str:
    """The manifest log's zero-padded slot name for version v."""
    return f"v{v:012d}.json"


@pytest.fixture()
def s3():
    with moto.mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket=BUCKET)
        yield client


@pytest.fixture()
def store(s3):
    return S3CommitStore(BUCKET, "corpus/_manifests", client=s3)


@pytest.fixture()
def docs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(120)
    )


def _probe_terms(docs):
    from auto_data_linkage_spark.operators.retrieval import (
        query_terms_from_docs,
    )

    return query_terms_from_docs(
        docs.orderBy("doc_id").limit(5), n_terms=6
    ).localCheckpoint(eager=False)


# ------------------------------------------------ primitive semantics


def test_conditional_put_is_exclusive(store):
    """Exactly one writer wins a version slot (PutObject
    If-None-Match:* — the primitive the whole protocol rests on)."""
    assert store.create_exclusive("v1.json", {"version": 1})
    assert not store.create_exclusive("v1.json", {"version": 99})
    assert store.get("v1.json")["version"] == 1


def test_fast_path_primitives_for_real(store, s3):
    """list_names returns names WITHOUT reading bodies (prefix LIST),
    get point-reads one record, age_seconds reports a real
    LastModified-derived age — the O(1)-opens head-read contract."""
    for v in (1, 2, 3):
        store.create_exclusive(f"v{v}.json", {"version": v})
    # a nested key under a sub-"directory" must NOT leak into the log
    # listing (Delimiter-scoped, like PosixCommitStore's one-dir list)
    s3.put_object(
        Bucket=BUCKET,
        Key="corpus/_manifests/sub/x.json",
        Body=b"{}",
    )
    # a non-.json object is ignored too
    s3.put_object(Bucket=BUCKET, Key="corpus/_manifests/_lock", Body=b"")
    assert store.list_names() == ["v1.json", "v2.json", "v3.json"]
    assert store.get("v2.json") == {"version": 2}
    assert store.get("v9.json") is None
    age = store.age_seconds("v1.json")
    assert age is not None and 0.0 <= age < 3600.0
    assert store.age_seconds("v9.json") is None


def test_list_names_reads_no_bodies(s3):
    """The names-only fast path must stay names-only: a counting client
    proves list_names never calls GetObject."""
    calls = {"get": 0}

    class Counting:
        def __getattr__(self, attr):
            if attr == "get_object":
                def counted(**kw):
                    calls["get"] += 1
                    return s3.get_object(**kw)

                return counted
            return getattr(s3, attr)

    store = S3CommitStore(BUCKET, "corpus/_manifests", client=Counting())
    for v in (1, 2):
        store.create_exclusive(f"v{v}.json", {"version": v})
    assert store.list_names() == ["v1.json", "v2.json"]
    assert calls["get"] == 0
    assert store.get("v2.json")["version"] == 2
    assert calls["get"] == 1


def test_remove_is_idempotent(store):
    store.create_exclusive("v1.json", {"version": 1})
    store.remove("v1.json")
    store.remove("v1.json")  # deleting an absent key succeeds (S3)
    assert store.list_names() == []


def test_unparseable_record_reads_as_none(store, s3):
    """A torn/mid-write body must read as None (pending, unknown
    footprint) — the same degraded signal the POSIX backend gives."""
    s3.put_object(
        Bucket=BUCKET, Key="corpus/_manifests/v1.json", Body=b"{not json"
    )
    assert store.get("v1.json") is None
    assert store.list_records() == {"v1.json": None}


def test_transient_codes_surface_as_commit_weather(s3):
    """SlowDown/5xx/ConditionalRequestConflict map to
    TransientCommitError — commit_with_retry's retryable class — while
    a real client error (AccessDenied) propagates untouched."""

    def throwing(code):
        class T:
            def put_object(self, **kw):
                raise ClientError(
                    {"Error": {"Code": code, "Message": code}}, "PutObject"
                )

            def __getattr__(self, attr):
                return getattr(s3, attr)

        return S3CommitStore(BUCKET, "corpus/_manifests", client=T())

    for code in ("SlowDown", "InternalError", "ConditionalRequestConflict"):
        with pytest.raises(M.TransientCommitError):
            throwing(code).create_exclusive("v1.json", {"version": 1})
    with pytest.raises(ClientError):
        throwing("AccessDenied").create_exclusive("v1.json", {"version": 1})


# ------------------------------------------- full protocol lifecycle


def test_full_index_lifecycle_on_s3_commit_log(spark, docs, tmp_path, s3):
    """The ENTIRE manifest-protocol lifecycle — build, append, atomic
    delete, compaction, time travel, history, checkpoint, vacuum — runs
    with the commit log living in an S3 bucket: no _manifests directory
    on disk, every version a conditional put. Results match the same
    lifecycle over the default POSIX log bit-exactly."""
    out = str(tmp_path / "lex")
    ref = str(tmp_path / "ref")
    store = S3CommitStore(BUCKET, "lex/_manifests", client=s3)
    M.use_commit_log(out, store)
    try:
        a = docs.where(F.col("doc_id") % 2 == 0)
        b = docs.where(F.col("doc_id") % 2 == 1)
        for root in (out, ref):
            L.build_lex_index(a, root, n_buckets=4)
            L.append_lex_index(b, root)
            L.delete_from_lex_index(spark, root, a.select("doc_id").limit(20))
        assert not os.path.isdir(os.path.join(out, "_manifests"))
        # the log IS in the bucket (zero-padded version slots)
        assert store.list_names() == [_vname(1), _vname(2), _vname(3)]

        probes = _probe_terms(docs)

        def topk(root, version=None):
            idx = L.load_lex_index(spark, root, version=version)
            return sorted(
                L.lex_index_topk(idx, probes, k=5).collect(),
                key=lambda r: (r[0], r[1]),
            )

        assert topk(out) == topk(ref)
        assert topk(out, version=2) == topk(ref, version=2)  # time travel
        assert [e["version"] for e in M.history(out)] == [1, 2, 3]

        # checkpoint + vacuum ride the same backend: manifests v1/v2
        # are reclaimed FROM THE BUCKET, history survives via the
        # checkpoint, the head still serves
        M.checkpoint_manifest_log(out)
        v = M.vacuum(out, keep_manifests=1, min_age_seconds=0)
        assert v["removed_manifests"]
        assert _vname(1) not in store.list_names()
        assert [e["version"] for e in M.history(out)] == [1, 2, 3]
        assert topk(out) == topk(ref)
    finally:
        M.clear_commit_log(out)


def test_lifecycle_under_s3_weather(spark, docs, tmp_path, s3):
    """FlakyCommitStore composes over the real S3 backend unchanged:
    clean transients and ambiguous successes (timeout AFTER the
    conditional put landed) are retried/resolved by the protocol, and
    the surviving log in the bucket is exactly one record per version
    — no double-applies, no holes."""
    out = str(tmp_path / "lex")
    inner = S3CommitStore(BUCKET, "lex/_manifests", client=s3)
    flaky = FlakyCommitStore(
        inner, seed=3, fail_rate=0.3, ambiguous_rate=0.3
    )
    M.use_commit_log(out, flaky)
    try:
        a = docs.where(F.col("doc_id") % 2 == 0)
        b = docs.where(F.col("doc_id") % 2 == 1)
        L.build_lex_index(a, out, n_buckets=4)
        L.append_lex_index(b, out)
        L.delete_from_lex_index(spark, out, a.select("doc_id").limit(20))
        assert inner.list_names() == [_vname(1), _vname(2), _vname(3)]
        assert (
            flaky.stats["clean_failures"] + flaky.stats["ambiguous_successes"]
            > 0
        ), "weather never fired: raise rates or change the seed"
        head = M.read_manifest(out)
        assert head["version"] == 3

        # rows served == a calm-weather reference store
        ref = str(tmp_path / "ref")
        L.build_lex_index(a, ref, n_buckets=4)
        L.append_lex_index(b, ref)
        L.delete_from_lex_index(spark, ref, a.select("doc_id").limit(20))
        probes = _probe_terms(docs)
        got = sorted(
            L.lex_index_topk(
                L.load_lex_index(spark, out), probes, k=5
            ).collect()
        )
        want = sorted(
            L.lex_index_topk(
                L.load_lex_index(spark, ref), probes, k=5
            ).collect()
        )
        assert got == want
    finally:
        M.clear_commit_log(out)


def test_concurrent_writers_linearize_on_s3(store):
    """Two writers race one version slot through the real conditional
    put: exactly one wins, the loser observes the winner's record —
    the invariant every commit in the protocol reduces to."""
    won_a = store.create_exclusive("v7.json", {"version": 7, "writer": "a"})
    won_b = store.create_exclusive("v7.json", {"version": 7, "writer": "b"})
    assert won_a and not won_b
    assert store.get("v7.json")["writer"] == "a"
