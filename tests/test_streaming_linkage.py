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


# r16 test-tier split: most of this module is a lifecycle matrix whose
# cost is a multiple of a unit test, so those tests run in the
# exhaustive tier (pytest -m exhaustive), not the default wall-budgeted
# gate (pytest.ini + OPTIMIZATION_r16.md). The default tier keeps one
# exactly-once test (crash before the commit, then the replay) and the
# retired-layout refusal.


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


@pytest.mark.exhaustive
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


@pytest.mark.exhaustive
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


@pytest.mark.exhaustive
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


@pytest.mark.exhaustive
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


@pytest.mark.exhaustive
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


def test_empty_batch_commits_nothing(spark, people_batches, tmp_path):
    """An empty micro-batch after a real one writes nothing: the
    manifest version and the cluster table stay as they were, and the
    next batch still folds in."""
    from auto_data_linkage_spark.operators import manifestfs as M

    state = str(tmp_path / "state")
    _, (b0, b1, _) = people_batches
    linker = StreamingLinker(_model(), state, threshold=THRESHOLD)
    linker.process_batch(b0, 0)
    before = _rows(linker.current_clusters(spark))
    v = M.read_manifest(state)["version"]

    linker.process_batch(b1.limit(0), 1)
    assert M.read_manifest(state)["version"] == v
    assert _rows(linker.current_clusters(spark)) == before

    linker.process_batch(b1, 2)
    assert M.read_manifest(state)["version"] == v + 1
    assert linker.current_clusters(spark).count() == b0.count() + b1.count()


@pytest.mark.exhaustive
def test_resent_record_is_refused_and_state_kept(
    spark, people_batches, tmp_path_factory
):
    """A batch re-sending an id the state already holds is refused, as
    ``AutoLinker.incremental_update`` refuses it. Without the check the
    snapshot appended a second row for the id."""
    from auto_data_linkage_spark.operators import manifestfs as M

    root = tmp_path_factory.mktemp("slink_resend")
    state = str(root / "state")
    full_df, _ = people_batches
    linker = StreamingLinker(_model(), state, threshold=THRESHOLD)
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


@pytest.mark.exhaustive
def test_batch_carrying_one_id_twice_is_refused(
    spark, people_batches, tmp_path_factory
):
    """A batch that carries the same id twice is refused whether it is
    the first batch (clustered outright) or a later one (folded), and
    commits nothing; the same batch id then lands once the batch is
    clean. Without the check both copies of the id landed."""
    from auto_data_linkage_spark.operators import manifestfs as M

    root = tmp_path_factory.mktemp("slink_dup")
    state = str(root / "state")
    _, (b0, b1, _) = people_batches
    linker = StreamingLinker(_model(), state, threshold=THRESHOLD)

    with pytest.raises(ValueError, match="more than once"):
        linker.process_batch(b0.unionByName(b0.limit(1)), 0)
    assert linker.current_clusters(spark) is None
    linker.process_batch(b0, 0)
    before = _rows(linker.current_clusters(spark))
    v = M.read_manifest(state)["version"]

    with pytest.raises(ValueError, match="more than once"):
        linker.process_batch(b1.unionByName(b1.limit(1)), 1)
    assert M.read_manifest(state)["version"] == v
    assert _rows(linker.current_clusters(spark)) == before
    linker.process_batch(b1, 1)
    assert linker.current_clusters(spark).count() == b0.count() + b1.count()


def test_merge_layout_state_dirs_are_refused(spark, tmp_path):
    """The merge layout is retired: a state_dir holding its store (a
    corpus snapshot, meta kind="corpus") raises ValueError naming the
    path and the remedy on every entry point, before any read or write
    — every file keeps its size and mtime. The layout knobs are gone."""
    import os

    from auto_data_linkage_spark.sources import corpusstore as C

    state = str(tmp_path / "state")
    rows = spark.createDataFrame(
        [("1", "1", 0), ("2", "1", 1)],
        "unique_id string, cluster_id string, __bucket int",
    )
    C.build_corpus_snapshot(
        rows, state, key="unique_id", partition_by=["__bucket"]
    )

    def files():
        return sorted(
            (os.path.join(d, f), os.stat(os.path.join(d, f)).st_size,
             os.stat(os.path.join(d, f)).st_mtime_ns)
            for d, _, fs in os.walk(state) for f in fs
        )

    before = files()
    linker = StreamingLinker(None, state)
    for op in (
        lambda: linker.process_batch(rows.drop("__bucket"), 1),
        lambda: linker.current_clusters(spark),
        lambda: linker.current_clusters(spark, version=1),
        lambda: linker.vacuum(min_age_seconds=0),
    ):
        with pytest.raises(ValueError, match="new state_dir") as e:
            op()
        assert state in str(e.value)
    assert files() == before

    for knob in ({"layout": "merge"}, {"n_buckets": 16}):
        with pytest.raises(TypeError):
            StreamingLinker(None, state, **knob)
