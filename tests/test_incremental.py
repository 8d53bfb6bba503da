"""Incremental entity resolution: contraction-based batch folding must
reproduce full re-clustering exactly (labels included, under the min-id
convention), and merge events must surface cluster merges."""

import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.cluster import cluster_at_threshold
from auto_data_linkage_spark.compare import Comparison
from auto_data_linkage_spark.incremental import (
    apply_increment,
    incremental_assign,
    incremental_components,
)
from auto_data_linkage_spark.model import BlockingRule, FellegiSunterModel
from febrl_fixture import make_people

PEOPLE_SCHEMA = (
    "unique_id string, given_name string, surname string, suburb string, "
    "postcode string, state string, date_of_birth string, recid string"
)


# r16 test-tier split: this module is a lifecycle-matrix / property /
# full-catalog sweep — cost is a matrix-sized multiple of a unit test,
# so it runs in the exhaustive tier (pytest -m exhaustive), not the
# default wall-budgeted gate. See pytest.ini + OPTIMIZATION_r16.md.
pytestmark = pytest.mark.exhaustive


def _assignments(df, uid="unique_id", cl="cluster_id"):
    return {
        r[uid]: r[cl]
        for r in df.select(
            F.col(uid).cast("string").alias(uid),
            F.col(cl).cast("string").alias(cl),
        ).collect()
    }


def test_incremental_components_joins_existing_cluster(spark):
    base = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c")], "node string, component string"
    )
    delta = spark.createDataFrame(
        [("x", "a"), ("x", "y")], "src string, dst string"
    )
    out = {
        r["node"]: r["component"]
        for r in incremental_components(base, delta).collect()
    }
    # x bridges into cluster a and pulls y along; cluster id stays "a"
    assert out == {"c:a": "a", "r:x": "a", "r:y": "a"}


def test_incremental_components_merges_two_clusters(spark):
    base = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c"), ("d", "c")],
        "node string, component string",
    )
    delta = spark.createDataFrame(
        [("x", "a"), ("x", "c")], "src string, dst string"
    )
    out = {
        r["node"]: r["component"]
        for r in incremental_components(base, delta).collect()
    }
    # bridging record merges clusters a and c under the min id
    assert out == {"c:a": "a", "c:c": "a", "r:x": "a"}


@pytest.fixture(scope="module")
def trained_model():
    return FellegiSunterModel(
        comparisons=[
            Comparison("given_name", "levenshtein", 2),
            Comparison("surname", "levenshtein", 2),
            Comparison("suburb", "levenshtein", 2),
            Comparison("postcode", "levenshtein", 1),
        ],
        blocking_rules=[("surname",), ("postcode",)],
        # fixed prior: incremental scoring must not depend on batch size
        prior=1.0 / 500,
    )


def _people_split(spark, n=150, seed=11):
    rows = make_people(n_entities=n, dup_fraction=0.5, seed=seed)
    df = spark.createDataFrame(rows, PEOPLE_SCHEMA)
    # split so duplicate pairs straddle the boundary: every 3rd row is new
    new = df.where(F.col("unique_id").cast("long") % 3 == 0)
    base = df.where(F.col("unique_id").cast("long") % 3 != 0)
    return df, base, new


def test_incremental_equals_full_reclustering(spark, trained_model):
    threshold = 0.9
    full_df, base, new = _people_split(spark)

    full = cluster_at_threshold(
        full_df, trained_model.predict(full_df), threshold
    )
    base_clusters = cluster_at_threshold(
        base, trained_model.predict(base), threshold
    )
    inc = incremental_assign(
        trained_model, base_clusters, new, threshold=threshold
    )
    merged = apply_increment(base_clusters, new, inc)

    assert _assignments(merged) == _assignments(full)
    # every new record got an assignment exactly once
    assert inc.assignments.count() == new.count()


def test_incremental_numeric_ids_use_numeric_minima(spark):
    """Long ids must pick NUMERIC component minima: base cluster {9,10}
    is labeled 9; folding record 100 into it must keep label 9 (a
    lexicographic min would relabel to 100 and emit a phantom merge)."""
    base = spark.createDataFrame(
        [(9, 9), (10, 9), (50, 50)], "node long, component long"
    )
    delta = spark.createDataFrame([(100, 9)], "src long, dst long")
    out = {
        r["node"]: r["component"]
        for r in incremental_components(base, delta).collect()
    }
    assert out == {"c:9": 9, "r:100": 9}
    assert isinstance(next(iter(out.values())), int)


def test_incremental_assign_preserves_long_id_type(spark, trained_model):
    """End-to-end with LONG unique ids: labels equal full re-clustering
    (which picks numeric minima), and output columns keep the long type."""
    threshold = 0.9
    full_df, base, new = _people_split(spark)
    to_long = lambda d: d.withColumn(  # noqa: E731
        "unique_id", F.col("unique_id").cast("long")
    )
    full_df, base, new = to_long(full_df), to_long(base), to_long(new)

    full = cluster_at_threshold(
        full_df, trained_model.predict(full_df), threshold
    )
    base_clusters = cluster_at_threshold(
        base, trained_model.predict(base), threshold
    )
    inc = incremental_assign(
        trained_model, base_clusters, new, threshold=threshold
    )
    merged = apply_increment(base_clusters, new, inc)
    assert dict(merged.dtypes)["cluster_id"] == "bigint"
    assert _assignments(merged) == _assignments(full)


def test_autolinker_incremental_update(spark):
    """AutoLinker.incremental_update folds a batch with the searched best
    model; result must equal full re-clustering of base ∪ batch with that
    model (labels included), and a later different-threshold query must
    re-predict over the advanced data instead of the stale base."""
    from auto_data_linkage_spark.autolink import AutoLinker
    from auto_data_linkage_spark.cluster import cluster_at_threshold

    full_df, base, new = _people_split(spark, n=120, seed=3)
    linker = AutoLinker(
        max_evals=2, comparison_size_limit=100_000, random_seed=7
    )
    linker.auto_link(base)
    threshold = 0.85
    base_clusters = linker.best_clusters_at_threshold(threshold)
    inc = linker.incremental_update(new, threshold=threshold)
    merged = linker.best_clusters_at_threshold(threshold)

    # expected: the best model re-run over the SAME cleaned union the
    # linker now holds (prior pinned by incremental_update)
    model = linker.best_trial.model
    clean_union = linker.clean_data
    expected = cluster_at_threshold(
        clean_union, model.predict(clean_union), threshold
    )
    assert _assignments(merged) == _assignments(expected)
    assert inc.assignments.count() == new.count()
    assert merged.count() == base_clusters.count() + new.count()
    # a different threshold re-predicts over base ∪ batch without raising
    other = linker.best_clusters_at_threshold(0.95)
    assert other.count() == merged.count()
    # colliding ids are rejected, not silently absorbed
    with pytest.raises(ValueError, match="disjoint ids"):
        linker.incremental_update(new, threshold=threshold)


def test_incremental_singletons_keep_own_id(spark, trained_model):
    _, base, _ = _people_split(spark)
    base_clusters = cluster_at_threshold(
        base, trained_model.predict(base), 0.9
    )
    loners = spark.createDataFrame(
        [
            ("90001", "zzyzx", "qwertyu", "nowhere", "0000", "xx", "19000101", "x1"),
            ("90002", "vvvvv", "mnbvcx", "noplace", "0001", "yy", "19000102", "x2"),
        ],
        PEOPLE_SCHEMA,
    )
    inc = incremental_assign(trained_model, base_clusters, loners, threshold=0.9)
    got = _assignments(inc.assignments)
    assert got == {"90001": "90001", "90002": "90002"}
    assert inc.merges.count() == 0


def test_autolinker_incremental_update_link_mode(spark):
    """Link-mode incremental fold (side="r"): the result must equal a
    full re-link of the advanced left/right frames with the same model —
    labels included — and same-table pairs must never form (link_only
    semantics, asserted via cluster composition)."""
    from auto_data_linkage_spark.autolink import AutoLinker
    from auto_data_linkage_spark.cluster import cluster_at_threshold

    rows = make_people(n_entities=100, dup_fraction=0.6, seed=5)
    df = spark.createDataFrame(rows, PEOPLE_SCHEMA)
    # left = one record per entity; right = the duplicates (cross-table
    # matches); a third of the right rows arrive later as the batch
    w = F.col("unique_id").cast("long")
    left = df.dropDuplicates(["recid"])
    right_all = df.join(left.select("unique_id"), "unique_id", "left_anti")
    right = right_all.where(w % 3 != 0)
    batch = right_all.where(w % 3 == 0)

    linker = AutoLinker(
        max_evals=2, comparison_size_limit=100_000, random_seed=7
    )
    linker.auto_link([left.drop("unique_id"), right.drop("unique_id")])
    threshold = 0.85
    base_clusters = linker.best_clusters_at_threshold(threshold)

    with pytest.raises(ValueError, match="side"):
        linker.incremental_update(batch, threshold=threshold)
    inc = linker.incremental_update(batch, threshold=threshold, side="r")
    merged = linker.best_clusters_at_threshold(threshold)

    # expected: full re-link over the ADVANCED frames with the same model
    model = linker.best_trial.model
    expected = cluster_at_threshold(
        linker.clean_data, linker._predict(model), threshold
    )
    assert _assignments(merged) == _assignments(expected)
    assert inc.assignments.count() == batch.count()
    assert merged.count() == base_clusters.count() + batch.count()
    # link_only: no cluster may contain two same-side records unless a
    # cross-table path connects them — with left deduped per entity, a
    # multi-member cluster must contain at least one left record
    multi = (
        merged.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("__src") == "l", 1).otherwise(0)).alias("n_l"),
        )
        .where(F.col("n") > 1)
    )
    bad = multi.where(F.col("n_l") == 0).count()
    assert bad == 0
    # folding a second batch for the OTHER side also works
    extra = left.limit(5).withColumn(
        "unique_id", F.concat(F.lit("9"), F.col("unique_id"))
    )
    inc2 = linker.incremental_update(extra, threshold=threshold, side="l")
    assert inc2.assignments.count() == 5


def test_link_mode_fold_scores_with_the_search_prior(spark):
    """Link-mode regression: the search clusters with the prior
    ``model.predict`` uses (1 / n_left) and a right-side fold must score
    with the same value. With folds re-pinning 1/(n_left + n_right),
    the base clustering kept a pair a full re-link rejects: on this
    population (4 attributes, renamed right columns, one right-side
    batch) the folded clustering differed from the re-link on one
    left record."""
    import random

    from auto_data_linkage_spark.autolink import AutoLinker
    from auto_data_linkage_spark.cluster import cluster_at_threshold

    attrs = ("given_name", "surname", "postcode", "date_of_birth")
    keep = (0, 1, 3, 5)  # the attrs' positions among make_people's columns
    rows = make_people(500, 0.9, seed=51, corruptions=2)
    rng = random.Random(51)
    ids = list(range(1, len(rows) + 1))
    rng.shuffle(ids)
    seen, left, right = set(), [], []
    for (_, *vals, recid), uid in zip(rows, ids):
        vals = [vals[i] for i in keep]
        if recid in seen:
            right.append((f"R{uid}", *vals))
        else:
            seen.add(recid)
            left.append((f"L{uid}", *vals))
    # hold back two batches of right records; fold the first
    per = int(len(right) * 0.3) // 2
    batch, right = right[:per], right[2 * per:]
    rng.shuffle(left)
    rng.shuffle(right)
    rng.shuffle(batch)

    def frame(data, cols):
        return spark.createDataFrame(
            data, "unique_id string, " + ", ".join(f"{c} string" for c in cols)
        )

    linker = AutoLinker(
        comparison_size_limit=200_000, max_evals=1, random_seed=7
    )
    linker.auto_link(
        [frame(left, attrs), frame(right, [f"r_{a}" for a in attrs])]
    )
    model = linker.best_trial.model
    assert model.prior == 1.0 / len(left)
    threshold = 0.8
    linker.best_clusters_at_threshold(threshold).count()
    linker.incremental_update(
        frame(
            [("B" + uid[1:], *vals) for uid, *vals in batch],
            [f"{a}_r_{a}" for a in attrs],
        ),
        threshold,
        side="r",
    )
    assert model.prior == 1.0 / len(left)
    merged = linker.best_clusters_at_threshold(threshold)
    expected = cluster_at_threshold(
        linker.clean_data, linker._predict(model), threshold
    )
    assert _assignments(merged) == _assignments(expected)
