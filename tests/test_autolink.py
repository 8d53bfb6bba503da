import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.autolink import AutoLinker
from auto_data_linkage_spark.cluster import cluster_at_threshold
from auto_data_linkage_spark.metrics import (
    information_gain_power_ratio,
    pairwise_prf,
)
from auto_data_linkage_spark.model import FellegiSunterModel


def _jobs_launched_by(spark, group, fn) -> list[int]:
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def link_tables(spark):
    """Link-mode fixture: the 12 clean people on the left; on the right
    their 5 typo-duplicates plus 4 impostors that each share one field
    with a left record, so the search's blocking admits pairs that score
    far below 0.01."""
    base = [
        ("lachlan", "berry", "bittern", "4814"),
        ("mitchell", "green", "kooringal", "4558"),
        ("sophie", "white", "tardun", "2321"),
        ("amber", "dixon", "gowrie", "3073"),
        ("ruby", "campbell", "parkes", "2620"),
        ("oliver", "harris", "seaford", "5162"),
        ("chloe", "walker", "mildura", "3500"),
        ("jack", "taylor", "penrith", "2750"),
        ("emily", "clark", "hobart", "7000"),
        ("liam", "lewis", "cairns", "4870"),
        ("grace", "young", "darwin", "0800"),
        ("noah", "hall", "geelong", "3220"),
    ]
    right = [
        ("lachlam", "berry", "bittern", "4814"),
        ("mitchell", "grene", "kooringal", "4558"),
        ("sophie", "white", "tardun", "2321"),
        ("amber", "dixon", "gowrie", "3037"),
        (None, "campbell", "parkes", "2620"),
        ("lachlan", "quinn", "yass", "9141"),
        ("xavier", "green", "moree", "6663"),
        ("yusuf", "okafor", "tardun", "1187"),
        ("zoe", "park", "dubbo", "3073"),
    ]
    schema = (
        "unique_id string, given_name string, surname string, "
        "suburb string, postcode string"
    )
    return (
        spark.createDataFrame(
            [(f"a{i}",) + r for i, r in enumerate(base)], schema
        ),
        spark.createDataFrame(
            [(f"b{i}",) + r for i, r in enumerate(right)], schema
        ),
    )


def test_pairwise_prf_perfect_clustering(spark, people):
    clusters = people.withColumn("cluster_id", people["recid"])
    prf = pairwise_prf(clusters, "recid")
    assert prf["precision"] == 1.0 and prf["recall"] == 1.0 and prf["f1"] == 1.0


def test_pairwise_prf_all_singletons(spark, people):
    clusters = people.withColumn("cluster_id", people["unique_id"])
    prf = pairwise_prf(clusters, "recid")
    assert prf["recall"] == 0.0 and prf["true_positives"] == 0.0


def test_information_gain_zero_when_no_multiclusters(spark, people):
    clusters = people.withColumn("cluster_id", people["unique_id"])
    um = information_gain_power_ratio(
        people, clusters, ["given_name", "surname"]
    )
    assert um.information_gain_power_ratio == 0.0


def test_information_gain_positive_for_true_clusters(spark, people):
    clusters = people.withColumn("cluster_id", people["recid"])
    um = information_gain_power_ratio(
        people, clusters, ["given_name", "surname", "suburb", "postcode"]
    )
    assert um.scaled_gain > 0
    assert um.adjusted_gain > 0
    assert um.information_gain_power_ratio > 0


def test_information_gain_matches_reference_formula(spark):
    """Golden test against the reference math (autolinker.py:149-223):
    entropies over the matched subset, per-column gains SUMMED, result
    pow(gain_base_c, gain_base_u)."""
    import math
    from collections import Counter

    rows = [
        ("1", "x", "p", "c1"),
        ("2", "x", "q", "c1"),
        ("3", "y", "p", "c1"),
        ("4", "z", "r", "c2"),
        ("5", "z", "r", "c2"),
        ("6", "w", "s", "s6"),  # singleton cluster — excluded from matched
    ]
    data = spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows], "unique_id string, a string, b string"
    )
    clusters = spark.createDataFrame(
        rows, "unique_id string, a string, b string, cluster_id string"
    )
    um = information_gain_power_ratio(data, clusters, ["a", "b"])

    def entropy(vals, base):
        n = len(vals)
        return -sum(
            (c / n) * math.log(c / n, base) for c in Counter(vals).values()
        )

    matched = [r for r in rows if r[3] in ("c1", "c2")]
    base_c = 2  # two multi-record clusters
    base_u = 4  # max distinct values of any column in the ORIGINAL data
    expected = {}
    for base in (base_c, base_u):
        gain = 0.0
        for col in (1, 2):
            h_matched = entropy([r[col] for r in matched], base)
            per_cluster = [
                entropy([r[col] for r in matched if r[3] == cid], base)
                for cid in ("c1", "c2")
            ]
            gain += h_matched - sum(per_cluster) / len(per_cluster)
        expected[base] = gain
    assert um.scaled_gain == pytest.approx(expected[base_c], rel=1e-9)
    assert um.adjusted_gain == pytest.approx(expected[base_u], rel=1e-9)
    assert um.information_gain_power_ratio == pytest.approx(
        math.pow(expected[base_c], expected[base_u]), rel=1e-9
    )
    # a caller-held base u (AutoLinker computes it once per search)
    # scores identically
    assert information_gain_power_ratio(
        data, clusters, ["a", "b"], base_u=base_u
    ) == um


# The scores the three-job implementation (a scalar ``first()``, then
# one collect per entropy term) returned on the ``people`` fixture.
_IG_BEFORE = {
    "true": (4.000000000000001, 2.5098942523012138, 32.441947098316575),
    "nulls": (3.8277293767706433, 2.4017989905302857, 25.125091171690023),
}


@pytest.mark.parametrize("clustering", ["true", "singletons", "nulls"])
def test_information_gain_matches_previous_scores(spark, people, clustering):
    """One collect scores what the three-job form scored: the true
    clusters, all singletons (exactly 0.0) and a clustering whose
    matched records carry null attribute values."""
    data = people
    if clustering == "singletons":
        clusters = people.withColumn("cluster_id", F.col("unique_id"))
    else:
        if clustering == "nulls":
            data = people.withColumn(
                "suburb",
                F.when(F.col("recid").isin("e1", "e3"), None).otherwise(
                    F.col("suburb")
                ),
            )
        clusters = data.withColumn("cluster_id", F.col("recid"))
    um = information_gain_power_ratio(
        data, clusters, ["given_name", "surname", "suburb", "postcode"]
    )
    got = (um.scaled_gain, um.adjusted_gain, um.information_gain_power_ratio)
    if clustering == "singletons":
        assert got == (0.0, 0.0, 0.0)
    else:
        assert got == pytest.approx(_IG_BEFORE[clustering], rel=1e-12, abs=1e-12)


def test_auto_link_reuses_the_winning_trial(spark, link_tables):
    """The search's own clustering at ``cluster_threshold`` and its
    predictions are the linker's results: reading them back launches no
    Spark job, the rows equal a fresh re-link with the best model, and
    the scores keep every candidate pair, those under 0.01 included."""
    linker = AutoLinker(
        comparison_size_limit=5_000, max_evals=1, random_seed=7
    )
    linker.auto_link(list(link_tables))
    t = linker.cluster_threshold
    assert _jobs_launched_by(
        spark, "best-clusters", lambda: linker.best_clusters_at_threshold(t)
    ) == []

    def rows(df):
        return sorted(
            tuple(r) for r in df.select("unique_id", "cluster_id").collect()
        )

    fresh_predictions = linker._predict(linker.best_trial.model)
    assert rows(linker.best_clusters_at_threshold(t)) == rows(
        cluster_at_threshold(linker.clean_data, fresh_predictions, t)
    )
    scores = linker.get_scores_df()
    probs = sorted(r[0] for r in scores.select("match_probability").collect())
    assert probs == sorted(
        r[0] for r in fresh_predictions.select("match_probability").collect()
    )
    assert probs[0] < 0.01


def test_search_job_budget(spark, people, link_tables):
    """Each trial phase is one Spark query: EM runs as many jobs for a
    three-arm training rule as for one arm, and a one-trial link-mode
    search stays within its measured job budget (44 jobs before EM,
    information gain and the winner's re-clustering were cut to one
    pass each; 32 after)."""
    from auto_data_linkage_spark.cleaning import null_sentinel
    from auto_data_linkage_spark.compare import Comparison

    df = null_sentinel(people)
    comps = [
        Comparison(c, "levenshtein", 2)
        for c in ("given_name", "surname", "suburb", "postcode")
    ]
    one = _jobs_launched_by(
        spark, "em-one-arm",
        lambda: FellegiSunterModel(comps, [("postcode",)]).estimate_m_em(
            df, ("postcode",)
        ),
    )
    three = _jobs_launched_by(
        spark, "em-three-arms",
        lambda: FellegiSunterModel(comps, [("postcode",)]).estimate_m_em(
            df, ("postcode",), ("surname",), ("suburb",)
        ),
    )
    assert len(one) == len(three) > 0

    linker = AutoLinker(
        comparison_size_limit=5_000, max_evals=1, random_seed=7
    )
    search = _jobs_launched_by(
        spark, "search", lambda: linker.auto_link(list(link_tables))
    )
    assert len(search) <= 32


@pytest.mark.slow
def test_auto_link_end_to_end(spark, people):
    """Full unsupervised search on the FEBRL-style fixture: must find the
    planted duplicates with decent quality, no labels used for training."""
    linker = AutoLinker(
        comparison_size_limit=5_000,
        max_evals=3,
        true_label="recid",
        random_seed=7,
    )
    best = linker.auto_link(people.drop("unique_id"))
    assert best.score >= 0.0
    clusters = linker.best_clusters_at_threshold(0.8)
    prf = pairwise_prf(clusters, "recid")
    # 5 planted duplicate pairs; unsupervised search should recover most
    assert prf["recall"] >= 0.6, prf
    assert prf["precision"] >= 0.6, prf
    scores = linker.get_scores_df()
    assert {"unique_id_l", "unique_id_r", "match_probability"} <= set(scores.columns)


@pytest.mark.exhaustive
def test_random_sampler_mode(spark, people):
    """sampler="random" (the A/B control arm, tools/tpe_ab.py) must run
    the same loop with the Parzen model disabled and still link."""
    linker = AutoLinker(
        max_evals=2,
        comparison_size_limit=100_000,
        random_seed=5,
        sampler="random",
    )
    linker.auto_link(people)
    assert linker.best_trial is not None
    assert len(linker.trials) == 2
    with pytest.raises(ValueError, match="sampler"):
        AutoLinker(sampler="parzen")


class TestAutoGuards:
    """AutoLinker is scale-safe by construction — one scale guard that
    switches on once the rule estimate is sampled (n > 10k), decided
    from n and comparison_size_limit at auto_link time (SCALE.md
    "AutoLinker E2E at 150k rows" is the measured failure it prevents)."""

    def test_small_n_resolves_to_reference_parity(self):
        linker = AutoLinker(comparison_size_limit=100_000)
        assert linker._resolve_guards(10_000) == (None, None)

    def test_large_n_derives_cap_and_guard(self):
        linker = AutoLinker(comparison_size_limit=100_000)
        cap, guard = linker._resolve_guards(10_001)
        assert guard == 100_000
        # ceil(sqrt(100_000)) = 317: one block contributes ≤ cap² ≈ budget
        assert cap == 317
        assert (cap - 1) ** 2 < 100_000 <= cap * cap

    def test_large_n_cap_scales_with_budget(self):
        linker = AutoLinker(comparison_size_limit=5_000_000)
        cap, guard = linker._resolve_guards(150_000)
        assert guard == 5_000_000
        assert cap == 2_237  # ceil(sqrt(5M)) — the 150k E2E's derived cap

    def test_bad_string_rejected(self, people):
        """The guard is not user-settable: the retired knobs (whatever
        value, "auto" included) are unknown keyword arguments."""
        from auto_data_linkage_spark.blocking import generate_blocking_rules
        from auto_data_linkage_spark.model import candidate_pairs

        for knob in (
            "max_block_size", "block_cap_mode", "total_pairs_guard", "parity"
        ):
            with pytest.raises(TypeError, match=knob):
                AutoLinker(**{knob: "auto"})
        with pytest.raises(TypeError, match="total_pairs_guard"):
            generate_blocking_rules(people, ["surname"], total_pairs_guard=1)
        with pytest.raises(TypeError, match="block_cap_mode"):
            candidate_pairs(people, [], [], block_cap_mode="trim")

    def test_default_run_records_resolved_guards(self, spark, people):
        linker = AutoLinker(
            comparison_size_limit=5_000, max_evals=1, random_seed=7
        )
        linker.auto_link(people.drop("unique_id"))
        # fixture is tiny (< 10k rows): defaults resolved to parity
        assert linker.resolved_max_block_size is None
        assert linker.resolved_total_pairs_guard is None
