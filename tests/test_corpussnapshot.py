"""Manifest-layout corpus snapshots (sources/corpusstore.py): the
corpus MERGE on the same commit protocol the persisted index stores
use — the one corpus commit protocol.

Pinned here:

- upsert semantics (replaced keys dropped, delta inserted, untouched
  partitions untouched) — compared row-for-row with an expected row
  set computed independently of the store;
- untouched partitions keep their exact generation list AND files
  across an upsert (nothing rewritten outside the delta's footprint);
- a reader handle pinned before an upsert keeps serving the old rows;
- ``version=`` time travel replays any retained commit bit-exactly;
- a lost commit race re-runs the merge against the fresh snapshot:
  two upserts racing the same version both land, equal to a serial
  order (the lost-update case in-place overwrite corrupts);
- nested (multi-column) partitioning and Spark-escaped partition
  values round-trip;
- a delta whose columns differ from the store's (missing or extra)
  is rejected before anything is written;
- compaction rewrites only fragmented partitions, one commit,
  bit-equal before/after;
- the whole lifecycle also runs on a MemoryCommitStore log (object-
  store semantics, no _manifests/ on disk);
- both streaming sinks vacuum after each batch with the defaults:
  superseded generations past the 1 h floor go at the next batch,
  those inside it stay.
"""

import os
import time

import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.operators import manifestfs as M
from auto_data_linkage_spark.sources import corpusstore as C


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .localCheckpoint(eager=False)
    )


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _delta(spark, docs):
    """20 replacements (same doc_id, new text) + 5 inserts, spanning a
    few languages only."""
    rep = (
        docs.orderBy("doc_id")
        .limit(20)
        .withColumn("text", F.concat(F.lit("REVISED "), F.col("text")))
    )
    ins = (
        docs.orderBy(F.col("doc_id").desc())
        .limit(5)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    return rep.unionByName(ins).localCheckpoint(eager=True)


def test_upsert_matches_independent_expected_rows(spark, docs, tmp_path):
    """Replaced keys dropped, delta rows inserted, every other row kept —
    the expected set is computed from the inputs alone (the upsert is
    partition-granular, but a row-level anti-join gives the same rows
    because every replaced key sits in a touched partition)."""
    root = str(tmp_path / "snap")
    delta = _delta(spark, docs)

    C.build_corpus_snapshot(docs, root, key="doc_id", partition_by=["lang"])
    out = C.upsert_corpus_snapshot(spark, root, delta)
    assert out["version"] == 2 and out["partitions"] > 0

    want = _rows(
        docs.join(delta.select("doc_id"), "doc_id", "left_anti")
        .unionByName(delta)
    )
    assert _rows(C.load_corpus_snapshot(spark, root)) == want


def test_untouched_partitions_not_rewritten(spark, docs, tmp_path):
    root = str(tmp_path / "snap")
    C.build_corpus_snapshot(docs, root, key="doc_id", partition_by=["lang"])
    before = M.read_manifest(root)["tables"]["data"]
    touched_lang = docs.orderBy("doc_id").first()["lang"]
    delta = (
        docs.where(F.col("lang") == touched_lang)
        .limit(3)
        .withColumn("text", F.lit("patched"))
    )
    files_before = {
        p: sorted(os.listdir(os.path.join(root, "data", gens[0], p)))
        for p, gens in before.items()
    }
    C.upsert_corpus_snapshot(spark, root, delta)
    after = M.read_manifest(root)["tables"]["data"]
    for part, gens in before.items():
        if part == f"lang={touched_lang}":
            assert after[part] != gens  # replaced by the rewrite gen
        else:
            assert after[part] == gens  # untouched: same generation...
            assert (
                sorted(os.listdir(os.path.join(root, "data", gens[0], part)))
                == files_before[part]
            )  # ...and the same files


def test_pinned_reader_and_time_travel(spark, docs, tmp_path):
    root = str(tmp_path / "snap")
    C.build_corpus_snapshot(docs, root, key="doc_id", partition_by=["lang"])
    pinned = C.load_corpus_snapshot(spark, root)
    v1_rows = _rows(pinned)
    C.upsert_corpus_snapshot(spark, root, _delta(spark, docs))
    # the pre-upsert handle still serves v1; so does version=1
    assert _rows(pinned) == v1_rows
    assert _rows(C.load_corpus_snapshot(spark, root, version=1)) == v1_rows
    assert _rows(C.load_corpus_snapshot(spark, root)) != v1_rows
    assert [h["version"] for h in C.corpus_snapshot_history(root)] == [1, 2]


def test_lost_race_rerun_equals_serial_order(spark, docs, tmp_path, monkeypatch):
    """Writer B reads v1; writer A commits v2 (disjoint partitions)
    before B's commit. B must lose the race, re-run its merge against
    v2, and land as v3 — final content equal to running A then B
    serially. In-place dynamic partition overwrite silently drops A's
    update in this interleaving."""
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    la, lb = sorted(langs)[:2]
    delta_a = (
        docs.where(F.col("lang") == la).limit(4)
        .withColumn("text", F.lit("A-patch"))
        .localCheckpoint(eager=True)
    )
    delta_b = (
        docs.where(F.col("lang") == lb).limit(4)
        .withColumn("text", F.lit("B-patch"))
        .localCheckpoint(eager=True)
    )

    race_root = str(tmp_path / "race")
    C.build_corpus_snapshot(docs, race_root, key="doc_id", partition_by=["lang"])
    real = M.commit_manifest
    state = {"armed": True}

    def a_sneaks_in(path, **kw):
        if state["armed"]:
            state["armed"] = False
            # between B's snapshot read and B's commit, writer A's
            # whole upsert lands (run with the REAL commit)
            monkeypatch.setattr(M, "commit_manifest", real)
            C.upsert_corpus_snapshot(spark, race_root, delta_a)
            monkeypatch.setattr(M, "commit_manifest", a_sneaks_in)
        return real(path, **kw)

    monkeypatch.setattr(M, "commit_manifest", a_sneaks_in)
    C.upsert_corpus_snapshot(spark, race_root, delta_b)
    monkeypatch.setattr(M, "commit_manifest", real)
    assert M.read_manifest(race_root)["version"] == 3

    serial_root = str(tmp_path / "serial")
    C.build_corpus_snapshot(docs, serial_root, key="doc_id", partition_by=["lang"])
    C.upsert_corpus_snapshot(spark, serial_root, delta_a)
    C.upsert_corpus_snapshot(spark, serial_root, delta_b)
    assert _rows(C.load_corpus_snapshot(spark, race_root)) == _rows(
        C.load_corpus_snapshot(spark, serial_root)
    )


def test_nested_partitioning_and_escaped_values(spark, tmp_path):
    root = str(tmp_path / "snap")
    rows = [
        (1, "alpha", "en US", "s 1:a"),
        (2, "beta", "en US", "s 1:a"),
        (3, "gamma", "de/AT", "s2"),
        (4, "delta", "de/AT", "s3"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id int, text string, region string, src string"
    )
    C.build_corpus_snapshot(
        df, root, key="doc_id", partition_by=["region", "src"]
    )
    delta = spark.createDataFrame(
        [(2, "beta2", "en US", "s 1:a"), (5, "eps", "fr", "s4")],
        "doc_id int, text string, region string, src string",
    )
    C.upsert_corpus_snapshot(spark, root, delta)
    got = _rows(C.load_corpus_snapshot(spark, root))
    want = _rows(
        df.where(F.col("doc_id") != 2).unionByName(delta)
    )
    assert got == want
    # leaf-granular tracking: composite keys in the manifest
    parts = set(M.read_manifest(root)["tables"]["data"])
    assert all("/" in p for p in parts)
    # partition pruning still works through the snapshot reader
    pruned = C.load_corpus_snapshot(spark, root).where(
        F.col("region") == "de/AT"
    )
    assert {r["doc_id"] for r in pruned.collect()} == {3, 4}
    # partition pruning: the filtered scan touches only de/AT files
    read = {
        r[0]
        for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    # (input_file_name URL-encodes the already-escaped dir name)
    from urllib.parse import unquote

    assert read and all("region=de%2FAT" in unquote(f) for f in read)


def test_append_is_insert_only_and_o_delta(spark, docs, tmp_path):
    root = str(tmp_path / "snap")
    C.build_corpus_snapshot(docs, root, key="doc_id", partition_by=["lang"])
    before = M.read_manifest(root)["tables"]["data"]
    ins = (
        docs.orderBy("doc_id").limit(6)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .localCheckpoint(eager=True)
    )
    out = C.append_corpus_snapshot(root, ins)
    assert out["rows_written"] == 6 and out["version"] == 2
    after = M.read_manifest(root)["tables"]["data"]
    touched = {r["lang"] for r in ins.select("lang").distinct().collect()}
    for part, gens in after.items():
        lang = part.split("=", 1)[1]
        if lang in touched:
            # O(delta): the old generation is KEPT and the delta's gen
            # is added — nothing existing was read or rewritten
            assert gens[: len(before[part])] == before[part]
            assert len(gens) == len(before[part]) + 1
        else:
            assert gens == before.get(part)
    assert _rows(C.load_corpus_snapshot(spark, root)) == _rows(
        docs.unionByName(ins)
    )


def test_compaction_rewrites_only_fragmented_partitions(spark, docs, tmp_path):
    root = str(tmp_path / "snap")
    C.build_corpus_snapshot(docs, root, key="doc_id", partition_by=["lang"])
    hot = docs.orderBy("doc_id").first()["lang"]
    for i in range(3):  # fragment ONE partition: one gen per append
        delta = (
            docs.where(F.col("lang") == hot).limit(2)
            .withColumn("doc_id", F.col("doc_id") + (i + 1) * 1_000_000)
            .withColumn("text", F.lit(f"p{i}"))
        )
        C.append_corpus_snapshot(root, delta)
    before = _rows(C.load_corpus_snapshot(spark, root))
    snap = M.read_manifest(root)
    counts = M.part_file_counts(root, "data", snap)
    frag = {p for p, n in counts.items() if n > 1}
    assert f"lang={hot}" in frag
    out = C.compact_corpus_snapshot(spark, root, max_files_per_partition=1)
    assert f"lang={hot}" in out["compacted"]
    snap2 = M.read_manifest(root)
    counts2 = M.part_file_counts(root, "data", snap2)
    assert all(n == 1 for n in counts2.values())
    # untouched partitions keep their generation list
    for p, gens in snap["tables"]["data"].items():
        if p not in out["compacted"]:
            assert snap2["tables"]["data"][p] == gens
    assert _rows(C.load_corpus_snapshot(spark, root)) == before
    # vacuum reclaims the superseded generations, content unchanged
    v = C.vacuum_corpus_snapshot(root, keep_manifests=1, min_age_seconds=0)
    assert v["removed_gens"]
    assert _rows(C.load_corpus_snapshot(spark, root)) == before


def test_change_feed_labels_and_excludes_compaction(spark, docs, tmp_path):
    root = str(tmp_path / "snap")
    C.build_corpus_snapshot(docs, root, key="doc_id", partition_by=["lang"])
    ins = (
        docs.orderBy("doc_id").limit(6)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .localCheckpoint(eager=True)
    )
    C.append_corpus_snapshot(root, ins)  # v2: row-level inserts
    hot = docs.orderBy("doc_id").first()["lang"]
    rep = (
        docs.where(F.col("lang") == hot).limit(3)
        .withColumn("text", F.lit("patched"))
        .localCheckpoint(eager=True)
    )
    C.upsert_corpus_snapshot(spark, root, rep)  # v3: partition rewrite
    C.append_corpus_snapshot(root, ins.withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    ))  # v4 (fragments the ins partitions)
    C.compact_corpus_snapshot(spark, root, max_files_per_partition=1)  # v5

    ops = {h["version"]: h["op"] for h in C.corpus_snapshot_history(root)}
    assert ops == {1: "build", 2: "append", 3: "upsert", 4: "append",
                   5: "compact"}

    ch = C.corpus_snapshot_changes(spark, root, since=1)
    vs = {r["_commit_version"] for r in ch.select("_commit_version").collect()}
    assert vs == {2, 3, 4}  # compaction (v5) adds NO change rows
    # v2 append: exactly the inserted rows
    v2 = ch.where(F.col("_commit_version") == 2)
    assert _rows(v2.drop("_commit_version", "_commit_op")) == _rows(ins)
    assert {r["_commit_op"] for r in v2.select("_commit_op").collect()} == {
        "append"
    }
    # v3 upsert: the touched partition's POST-MERGE content
    v3 = ch.where(F.col("_commit_version") == 3)
    snap_v3 = C.load_corpus_snapshot(spark, root, version=3)
    assert _rows(v3.drop("_commit_version", "_commit_op")) == _rows(
        snap_v3.where(F.col("lang") == hot)
    )
    # bounded window: (2, 3] sees only the upsert
    win = C.corpus_snapshot_changes(spark, root, since=2, until=3)
    assert {
        r["_commit_version"] for r in win.select("_commit_version").collect()
    } == {3}
    # since=0 includes the build commit itself
    full = C.corpus_snapshot_changes(spark, root, since=0)
    assert {
        r["_commit_version"] for r in full.select("_commit_version").collect()
    } == {1, 2, 3, 4}
    assert (
        full.where(F.col("_commit_version") == 1)
        .select("_commit_op")
        .distinct()
        .collect()[0][0]
        == "build"
    )
    with pytest.raises(ValueError, match="beyond the store"):
        C.corpus_snapshot_changes(spark, root, since=0, until=99)
    # a feed reaching past vacuumed history raises with the hint
    C.vacuum_corpus_snapshot(root, keep_manifests=1, min_age_seconds=0)
    with pytest.raises(FileNotFoundError, match="keep_manifests"):
        C.corpus_snapshot_changes(spark, root, since=1).count()


def test_lifecycle_on_memory_commit_log(spark, docs, tmp_path):
    from auto_data_linkage_spark.sources.layout import MemoryCommitStore

    root = str(tmp_path / "snap")
    M.use_commit_log(root, MemoryCommitStore())
    try:
        C.build_corpus_snapshot(docs, root, key="doc_id", partition_by=["lang"])
        C.upsert_corpus_snapshot(spark, root, _delta(spark, docs))
        assert not os.path.isdir(os.path.join(root, "_manifests"))
        ref = str(tmp_path / "ref")
        C.build_corpus_snapshot(docs, ref, key="doc_id", partition_by=["lang"])
        C.upsert_corpus_snapshot(spark, ref, _delta(spark, docs))
        assert _rows(C.load_corpus_snapshot(spark, root)) == _rows(
            C.load_corpus_snapshot(spark, ref)
        )
    finally:
        M.clear_commit_log(root)


def test_guards(spark, docs, tmp_path):
    root = str(tmp_path / "snap")
    with pytest.raises(ValueError, match="partition_by"):
        C.build_corpus_snapshot(docs, root, key="doc_id", partition_by=[])
    C.build_corpus_snapshot(docs, root, key="doc_id", partition_by=["lang"])
    with pytest.raises(FileExistsError, match="already holds"):
        C.build_corpus_snapshot(docs, root, key="doc_id", partition_by=["lang"])
    # empty delta: no commit, version unchanged
    out = C.upsert_corpus_snapshot(spark, root, docs.limit(0))
    assert out == {"partitions": 0, "rows_written": 0, "version": 1}
    # a delta MISSING a column must be rejected, not silently drop the
    # column from the kept rows of the touched partitions
    with pytest.raises(ValueError, match="missing \\['text'\\]"):
        C.upsert_corpus_snapshot(spark, root, docs.drop("text").limit(3))
    with pytest.raises(ValueError, match="unexpected \\['score'\\]"):
        C.append_corpus_snapshot(
            root, docs.limit(3).withColumn("score", F.lit(1.0))
        )


def test_null_partition_survivors_not_dropped(spark, tmp_path):
    """A NULL partition value must not lose its surviving rows on
    upsert: plain ==/isin partition predicates evaluate to NULL for
    the null-partition rows, silently filtering them out of the merge
    — the rewrite then drops them."""
    df = spark.createDataFrame(
        [(1, "keep-a", None), (2, "replace-me", None), (3, "other", "en")],
        "doc_id int, text string, lang string",
    )
    delta = spark.createDataFrame(
        [(2, "replaced", None)], "doc_id int, text string, lang string"
    )
    want = _rows(
        df.where(F.col("doc_id") != 2).unionByName(delta)
    )
    root = str(tmp_path / "snap")
    C.build_corpus_snapshot(df, root, key="doc_id", partition_by=["lang"])
    C.upsert_corpus_snapshot(spark, root, delta)
    assert _rows(C.load_corpus_snapshot(spark, root)) == want


def test_empty_store_loads_and_accepts_first_batch(spark, docs, tmp_path):
    """A store built empty (the create-then-stream warmup pattern)
    must load as a typed empty frame, serve an empty change feed, and
    accept its first append."""
    root = str(tmp_path / "snap")
    C.build_corpus_snapshot(
        docs.limit(0), root, key="doc_id", partition_by=["lang"]
    )
    empty = C.load_corpus_snapshot(spark, root)
    assert empty.count() == 0
    assert set(empty.columns) == set(docs.columns)
    assert C.corpus_snapshot_changes(spark, root, since=0).count() == 0
    C.append_corpus_snapshot(root, docs.limit(7))
    assert C.load_corpus_snapshot(spark, root).count() == 7


def test_inplace_upsert_rejects_schema_drift(spark, docs, tmp_path):
    """The in-place partition MERGE once had a silent-column-drop
    hazard: a delta lacking a corpus column kept the touched
    partitions' rows via old.select(*delta.columns), erasing that
    column. The snapshot MERGE refuses a delta whose columns differ
    from the store's in either direction, before it writes or commits
    anything."""
    root = str(tmp_path / "snap")
    C.build_corpus_snapshot(docs, root, key="doc_id", partition_by=["lang"])
    with pytest.raises(ValueError, match="missing \\['n_chars'\\]"):
        C.upsert_corpus_snapshot(spark, root, docs.drop("n_chars").limit(3))
    with pytest.raises(ValueError, match="unexpected \\['score'\\]"):
        C.upsert_corpus_snapshot(
            spark, root, docs.limit(3).withColumn("score", F.lit(1.0))
        )
    # nothing committed and no generation allocated: only the build's
    assert M.read_manifest(root)["version"] == 1
    assert len(os.listdir(os.path.join(root, "data"))) == 1


@pytest.mark.parametrize(
    "make_sink",
    [
        lambda root: C.corpus_upsert_sink(root),
        lambda root: C.corpus_snapshot_sink(root, compact_over=1),
    ],
    ids=["upsert", "append_compact"],
)
def test_streaming_sinks_reclaim_superseded_generations(
    spark, docs, tmp_path, make_sink
):
    root = str(tmp_path / "snap")
    data = os.path.join(root, "data")
    C.build_corpus_snapshot(docs, root, key="doc_id", partition_by=["lang"])
    hot = docs.orderBy("doc_id").first()["lang"]
    sink = make_sink(root)

    def batch(i):
        return (
            docs.where(F.col("lang") == hot).limit(3)
            .withColumn("doc_id", F.col("doc_id") + (i + 1) * 1_000_000)
            .localCheckpoint(eager=True)
        )

    def on_disk():
        return set(os.listdir(data))

    def superseded():
        head = M.read_manifest(root)["tables"]["data"]
        return on_disk() - {g for gens in head.values() for g in gens}

    sink(batch(0), 0)
    sink(batch(1), 1)
    old = superseded()
    assert old
    # age the superseded generations and every manifest past the floor
    past = time.time() - 2 * 3600
    for name in old:
        os.utime(os.path.join(data, name), (past, past))
    mdir = os.path.join(root, M.MANIFEST_DIR)
    for name in os.listdir(mdir):
        os.utime(os.path.join(mdir, name), (past, past))
    sink(batch(2), 2)
    assert not old & on_disk()
    young = superseded()
    sink(batch(3), 3)
    assert young and young <= on_disk()
    assert C.load_corpus_snapshot(spark, root).count() == docs.count() + 12
