"""Streaming entity resolution: the foreachBatch-maintained cluster table
must equal full batch re-clustering of everything seen so far, survive
checkpointed restarts, and do delta-sized work per batch."""

import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.cluster import cluster_at_threshold
from auto_data_linkage_spark.compare import Comparison
from auto_data_linkage_spark.model import FellegiSunterModel
from auto_data_linkage_spark.streaming.linkage import StreamingLinker
from febrl_fixture import make_people

PEOPLE_SCHEMA = (
    "unique_id string, given_name string, surname string, suburb string, "
    "postcode string, state string, date_of_birth string, recid string"
)
THRESHOLD = 0.9


# r16 test-tier split: this module is a lifecycle-matrix / property /
# full-catalog sweep — cost is a matrix-sized multiple of a unit test,
# so it runs in the exhaustive tier (pytest -m exhaustive), not the
# default wall-budgeted gate. See pytest.ini + OPTIMIZATION_r16.md.
pytestmark = pytest.mark.exhaustive


def _model():
    return FellegiSunterModel(
        comparisons=[
            Comparison("given_name", "levenshtein", 2),
            Comparison("surname", "levenshtein", 2),
            Comparison("suburb", "levenshtein", 2),
            Comparison("postcode", "levenshtein", 1),
        ],
        blocking_rules=[("surname",), ("postcode",)],
        prior=1.0 / 500,
    )


def _assignments(df):
    return {
        r["unique_id"]: r["cluster_id"]
        for r in df.select(
            F.col("unique_id").cast("string").alias("unique_id"),
            F.col("cluster_id").cast("string").alias("cluster_id"),
        ).collect()
    }


@pytest.fixture(scope="module")
def people_batches(spark):
    rows = make_people(n_entities=90, dup_fraction=0.5, seed=23)
    df = spark.createDataFrame(rows, PEOPLE_SCHEMA)
    b0 = df.where(F.col("unique_id").cast("long") % 3 == 1)
    b1 = df.where(F.col("unique_id").cast("long") % 3 == 2)
    b2 = df.where(F.col("unique_id").cast("long") % 3 == 0)
    return df, (b0, b1, b2)


def test_streaming_linker_matches_batch_reclustering(
    spark, people_batches, tmp_path_factory
):
    root = tmp_path_factory.mktemp("slink")
    in_dir, state, ckpt = (
        str(root / "in"), str(root / "state"), str(root / "ckpt")
    )
    full_df, batches = people_batches
    linker = StreamingLinker(_model(), state, threshold=THRESHOLD)

    seen = None
    for i, batch in enumerate(batches):
        batch.write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(PEOPLE_SCHEMA).parquet(in_dir)
        q = linker.attach(stream, ckpt)
        q.awaitTermination()
        seen = batch if seen is None else seen.unionByName(batch)

        state_df = linker.current_clusters(spark)
        expected = cluster_at_threshold(
            seen, _model().predict(seen), THRESHOLD
        )
        assert _assignments(state_df) == _assignments(expected), (
            f"state diverged from batch re-clustering after batch {i}"
        )

    # restart with nothing new: checkpoint replays nothing, state unchanged
    before = _assignments(linker.current_clusters(spark))
    stream = spark.readStream.schema(PEOPLE_SCHEMA).parquet(in_dir)
    q = linker.attach(stream, ckpt)
    q.awaitTermination()
    assert _assignments(linker.current_clusters(spark)) == before


def test_streaming_linker_replay_is_idempotent(
    spark, people_batches, tmp_path_factory
):
    """Re-processing the SAME batch id (crash-before-commit replay) must
    leave the same snapshot, not duplicate records."""
    root = tmp_path_factory.mktemp("slink_replay")
    state = str(root / "state")
    _, (b0, b1, _) = people_batches
    linker = StreamingLinker(_model(), state, threshold=THRESHOLD)

    linker.process_batch(b0, 0)
    linker.process_batch(b1, 1)
    after_first = _assignments(linker.current_clusters(spark))
    n_rows = linker.current_clusters(spark).count()

    # replay batch 1: skipped by its token, the state is unchanged
    linker.process_batch(b1, 1)
    assert _assignments(linker.current_clusters(spark)) == after_first
    assert linker.current_clusters(spark).count() == n_rows


# ------------------------------------------------- manifest state store
# The state store now rides the same manifest commit protocol as the
# persisted indexes / corpus snapshots (VERDICT r12 ask #1): snapshot +
# (app_id, batch_id) token in ONE atomic commit, version= time travel,
# shared vacuum policy, zero python-side renames/overwrites.


def _rows(df):
    return sorted(
        tuple(str(v) for v in r)
        for r in df.select("unique_id", "cluster_id").collect()
    )


def test_manifest_state_replay_skipped_bit_equal(
    spark, people_batches, tmp_path_factory, monkeypatch
):
    """Crash-between-commit-and-checkpoint replay: the token skips the
    batch BEFORE any data work, the state stays bit-equal, and no
    python-side rename/replace/move ever runs."""
    import os as _os
    import shutil as _sh

    from auto_data_linkage_spark.operators import manifestfs as M

    calls = []

    def spy(fn):
        def inner(src, dst, *a, **kw):
            calls.append((src, dst))
            return fn(src, dst, *a, **kw)

        return inner

    monkeypatch.setattr(_os, "rename", spy(_os.rename))
    monkeypatch.setattr(_os, "replace", spy(_os.replace))
    monkeypatch.setattr(_sh, "move", spy(_sh.move))

    root = tmp_path_factory.mktemp("slink_manifest")
    state = str(root / "state")
    _, (b0, b1, b2) = people_batches
    linker = StreamingLinker(_model(), state, threshold=THRESHOLD)

    linker.process_batch(b0, 0)
    linker.process_batch(b1, 1)
    want = _rows(linker.current_clusters(spark))
    v_head = M.read_manifest(state)["version"]

    linker.process_batch(b1, 1)  # checkpoint replay of the SAME batch
    assert M.read_manifest(state)["version"] == v_head  # no new commit
    assert _rows(linker.current_clusters(spark)) == want  # bit-equal
    assert M.txn_version(M.read_manifest(state)["meta"], "linker") == 1
    assert calls == [], f"python-side renames in manifest state: {calls[:5]}"

    # the NEXT batch id still lands (new records: a re-sent id is
    # refused, test_resent_record_is_refused_and_state_kept)
    linker.process_batch(b2.limit(5), 2)
    assert M.read_manifest(state)["version"] == v_head + 1


def test_manifest_state_checkpointed_stream_restart(
    spark, people_batches, tmp_path_factory
):
    """End-to-end through a real checkpointed stream: drain, restart
    with nothing new (replays nothing), then restart with new data —
    state equals full batch re-clustering at every step."""
    root = tmp_path_factory.mktemp("slink_manifest_ckpt")
    in_dir, state, ckpt = (
        str(root / "in"), str(root / "state"), str(root / "ckpt")
    )
    full_df, (b0, b1, _) = people_batches
    linker = StreamingLinker(_model(), state, threshold=THRESHOLD)

    b0.write.mode("append").parquet(in_dir)
    q = linker.attach(
        spark.readStream.schema(PEOPLE_SCHEMA).parquet(in_dir), ckpt
    )
    q.awaitTermination()
    before = _rows(linker.current_clusters(spark))

    # restart with nothing new: no replay, no commit
    from auto_data_linkage_spark.operators import manifestfs as M

    v = M.read_manifest(state)["version"]
    q = linker.attach(
        spark.readStream.schema(PEOPLE_SCHEMA).parquet(in_dir), ckpt
    )
    q.awaitTermination()
    assert M.read_manifest(state)["version"] == v
    assert _rows(linker.current_clusters(spark)) == before

    # new data folds in and matches batch re-clustering of all seen
    b1.write.mode("append").parquet(in_dir)
    q = linker.attach(
        spark.readStream.schema(PEOPLE_SCHEMA).parquet(in_dir), ckpt
    )
    q.awaitTermination()
    seen = b0.unionByName(b1)
    expected = cluster_at_threshold(seen, _model().predict(seen), THRESHOLD)
    assert _assignments(linker.current_clusters(spark)) == _assignments(
        expected
    )


def test_manifest_state_time_travel_and_vacuum(
    spark, people_batches, tmp_path_factory
):
    """version= replays the state as of any retained batch bit-exactly;
    the shared vacuum policy reclaims superseded snapshots (never the
    head) and a reclaimed version raises with the retention hint."""
    import pytest as _pytest

    from auto_data_linkage_spark.operators import manifestfs as M

    root = tmp_path_factory.mktemp("slink_manifest_tt")
    state = str(root / "state")
    _, (b0, b1, b2) = people_batches
    linker = StreamingLinker(
        _model(), state, threshold=THRESHOLD, retain_versions=2,
        vacuum_age_seconds=0,
    )
    per_batch = []
    for i, b in enumerate((b0, b1, b2)):
        linker.process_batch(b, i)
        per_batch.append(_rows(linker.current_clusters(spark)))
    head = M.read_manifest(state)["version"]
    # retain_versions=2 + age floor 0: the per-batch vacuum keeps only
    # the last two manifests, so batch 0's state (v2) is reclaimed and
    # batch 1's (v3) still replays bit-exactly
    assert _rows(
        linker.current_clusters(spark, version=head - 1)
    ) == per_batch[1]
    with _pytest.raises(FileNotFoundError, match="vacuum"):
        linker.current_clusters(spark, version=2)
    # head unaffected
    assert _rows(linker.current_clusters(spark)) == per_batch[2]


def test_manifest_state_crash_before_commit_replays_cleanly(
    spark, people_batches, tmp_path_factory, monkeypatch
):
    """Crash AFTER the batch's generation was written but BEFORE its
    manifest commit: nothing is visible (readers keep the old state),
    the replay of the same batch id re-runs fully and lands exactly
    once, and the dead attempt's generation is a vacuumable orphan."""
    import os

    from auto_data_linkage_spark.operators import manifestfs as M

    root = tmp_path_factory.mktemp("slink_crash")
    state = str(root / "state")
    _, (b0, b1, _) = people_batches
    linker = StreamingLinker(_model(), state, threshold=THRESHOLD)
    linker.process_batch(b0, 0)
    before = _rows(linker.current_clusters(spark))
    v = M.read_manifest(state)["version"]

    real = M.commit_manifest
    state_d = {"fired": False}

    def crash_once(*a, **kw):
        if not state_d["fired"] and kw.get("op") == "linkage-batch":
            state_d["fired"] = True
            raise OSError("injected crash before the state commit")
        return real(*a, **kw)

    monkeypatch.setattr(
        "auto_data_linkage_spark.streaming.linkage.M.commit_manifest",
        crash_once,
    )
    with pytest.raises(OSError, match="injected"):
        linker.process_batch(b1, 1)
    # nothing visible: old state serves, version unchanged
    assert M.read_manifest(state)["version"] == v
    assert _rows(linker.current_clusters(spark)) == before

    # the replay lands exactly once
    linker.process_batch(b1, 1)
    assert M.read_manifest(state)["version"] == v + 1
    seen = b0.unionByName(b1)
    expected = cluster_at_threshold(seen, _model().predict(seen), THRESHOLD)
    assert _assignments(linker.current_clusters(spark)) == _assignments(
        expected
    )

    # the crashed attempt's generation is an orphan, reclaimed by vacuum
    tdir = os.path.join(state, "clusters")
    live = set(
        M.read_manifest(state)["tables"]["clusters"][""]
    ) | set(
        M.read_manifest(state, version=v)["tables"]["clusters"][""]
    )
    all_gens = {e for e in os.listdir(tdir) if e.startswith("gen=")}
    assert len(all_gens - live) == 1  # exactly the dead attempt
    out = linker.vacuum(keep_versions=2, min_age_seconds=0)
    assert any("clusters" in g for g in out["removed_gens"])
    remaining = {e for e in os.listdir(tdir) if e.startswith("gen=")}
    assert remaining == set(
        M.read_manifest(state)["tables"]["clusters"][""]
    ) | set(M.read_manifest(state, version=v)["tables"]["clusters"][""])


def test_merge_layout_state_matches_batch_reclustering(
    spark, people_batches, tmp_path_factory
):
    """layout='merge': the cluster table lives in a corpus snapshot
    keyed by unique_id; every batch upserts only the CHANGED
    assignments, yet the served state equals full batch re-clustering
    of everything seen so far, replays are exactly-once, and buckets a
    batch does not touch keep serving from the SAME files."""
    import os

    from auto_data_linkage_spark.operators import manifestfs as M

    root = tmp_path_factory.mktemp("slink_merge")
    state = str(root / "state")
    _, (b0, b1, b2) = people_batches
    linker = StreamingLinker(
        _model(), state, threshold=THRESHOLD, layout="merge", n_buckets=64,
    )

    seen = None
    for i, b in enumerate((b0, b1, b2)):
        linker.process_batch(b, i)
        seen = b if seen is None else seen.unionByName(b)
        expected = cluster_at_threshold(
            seen, _model().predict(seen), THRESHOLD
        )
        assert _assignments(linker.current_clusters(spark)) == _assignments(
            expected
        ), f"merge state diverged after batch {i}"

    # replay of the last batch: skipped by the token, state unchanged
    v = M.read_manifest(state)["version"]
    before = _rows(linker.current_clusters(spark))
    linker.process_batch(b2, 2)
    assert M.read_manifest(state)["version"] == v
    assert _rows(linker.current_clusters(spark)) == before

    # partition-granular writes: across the LAST upsert, at least one
    # bucket kept its exact live generation list (untouched partitions
    # keep serving byte-identically — the O(touched partitions) proof)
    cur = M.read_manifest(state)["tables"]["data"]
    prev = M.read_manifest(state, version=v - 1)["tables"]["data"]
    untouched = [p for p in prev if cur.get(p) == prev[p]]
    assert untouched, "every bucket was rewritten — not partition-granular"

    # time travel: the state as of batch 0 is still replayable
    v0_rows = _rows(linker.current_clusters(spark, version=1))
    expected0 = cluster_at_threshold(b0, _model().predict(b0), THRESHOLD)
    assert v0_rows == sorted(
        (str(r["unique_id"]), str(r["cluster_id"]))
        for r in expected0.select("unique_id", "cluster_id").collect()
    )

    # fresh-handle read (a second "session" view): same state
    linker2 = StreamingLinker(_model(), state, threshold=THRESHOLD)
    assert linker2._mode() == "merge"  # auto-detected
    assert _rows(linker2.current_clusters(spark)) == before


def test_merge_layout_through_checkpointed_stream(
    spark, people_batches, tmp_path_factory
):
    """Merge layout end-to-end through a real checkpointed stream:
    drain, restart with nothing new (no replay, no commit), then new
    data folds in — state equals full batch re-clustering."""
    from auto_data_linkage_spark.operators import manifestfs as M

    root = tmp_path_factory.mktemp("slink_merge_ckpt")
    in_dir, state, ckpt = (
        str(root / "in"), str(root / "state"), str(root / "ckpt")
    )
    _, (b0, b1, _) = people_batches
    linker = StreamingLinker(
        _model(), state, threshold=THRESHOLD, layout="merge", n_buckets=32,
    )

    b0.write.mode("append").parquet(in_dir)
    q = linker.attach(
        spark.readStream.schema(PEOPLE_SCHEMA).parquet(in_dir), ckpt
    )
    q.awaitTermination()
    before = _rows(linker.current_clusters(spark))
    v = M.read_manifest(state)["version"]

    # restart, nothing new: no commit anywhere
    q = linker.attach(
        spark.readStream.schema(PEOPLE_SCHEMA).parquet(in_dir), ckpt
    )
    q.awaitTermination()
    assert M.read_manifest(state)["version"] == v
    assert _rows(linker.current_clusters(spark)) == before

    # new data folds in via the delta upsert
    b1.write.mode("append").parquet(in_dir)
    q = linker.attach(
        spark.readStream.schema(PEOPLE_SCHEMA).parquet(in_dir), ckpt
    )
    q.awaitTermination()
    seen = b0.unionByName(b1)
    expected = cluster_at_threshold(seen, _model().predict(seen), THRESHOLD)
    assert _assignments(linker.current_clusters(spark)) == _assignments(
        expected
    )


def test_merge_layout_reports_bucket_saturation(
    spark, people_batches, tmp_path_factory
):
    """The bucket-saturation guard (VERDICT r13 ask #2): every merge
    batch records changed_rows/buckets_touched in last_batch_report;
    a dense delta (changed rows >= n_buckets — the measured 2.6x
    write-regression case) sets delta_saturates_buckets and WARNS,
    while a sparse delta stays quiet."""
    import warnings as W

    root = tmp_path_factory.mktemp("slink_sat")
    state = str(root / "state")
    _, (b0, b1, _) = people_batches

    # tiny bucket count: batch 1's delta (~30 rows) saturates 4 buckets
    linker = StreamingLinker(
        _model(), state, threshold=THRESHOLD, layout="merge", n_buckets=4,
    )
    assert linker.last_batch_report is None
    linker.process_batch(b0, 0)
    assert linker.last_batch_report == {
        "mode": "merge", "batch_id": 0, "action": "build", "n_buckets": 4,
    }
    with pytest.warns(UserWarning, match="saturates the bucket layout"):
        linker.process_batch(b1, 1)
    rep = linker.last_batch_report
    assert rep["action"] == "upsert" and rep["batch_id"] == 1
    assert rep["delta_saturates_buckets"] is True
    assert rep["changed_rows"] >= rep["n_buckets"] == 4
    assert 1 <= rep["buckets_touched"] <= 4

    # well-sized store: the same delta over 512 buckets stays quiet
    state2 = str(root / "state2")
    linker2 = StreamingLinker(
        _model(), state2, threshold=THRESHOLD, layout="merge",
        n_buckets=512,
    )
    linker2.process_batch(b0, 0)
    with W.catch_warnings():
        W.simplefilter("error")
        linker2.process_batch(b1, 1)
    rep2 = linker2.last_batch_report
    assert rep2["delta_saturates_buckets"] is False
    assert rep2["changed_rows"] < 512
    assert rep2["buckets_touched"] <= rep2["changed_rows"]


@pytest.mark.parametrize("layout", ["manifest", "merge"])
def test_resent_record_is_refused_and_state_kept(
    spark, people_batches, tmp_path_factory, layout
):
    """A batch re-sending an id the state already holds is refused, as
    ``AutoLinker.incremental_update`` refuses it. Without the check the
    snapshot layout appended a second row for the id, and the merge
    layout's upsert kept one row but labelled it with its own id,
    pulling a non-minimum member out of its cluster."""
    from auto_data_linkage_spark.operators import manifestfs as M

    root = tmp_path_factory.mktemp(f"slink_resend_{layout}")
    state = str(root / "state")
    full_df, _ = people_batches
    linker = StreamingLinker(
        _model(), state, threshold=THRESHOLD, layout=layout, n_buckets=64,
    )
    linker.process_batch(full_df, 0)
    before = _rows(linker.current_clusters(spark))
    v = M.read_manifest(state)["version"]
    member = [uid for uid, cid in before if uid != cid]
    assert member, "fixture has no multi-record cluster"
    resent = full_df.where(F.col("unique_id") == member[0])

    with pytest.raises(ValueError, match="disjoint ids"):
        linker.process_batch(resent, 1)
    assert M.read_manifest(state)["version"] == v
    assert _rows(linker.current_clusters(spark)) == before
