import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.cleaning import null_sentinel
from auto_data_linkage_spark.cluster import cluster_at_threshold
from auto_data_linkage_spark.compare import Comparison
from auto_data_linkage_spark.metrics import pairwise_prf
from auto_data_linkage_spark.model import (
    BlockingRule,
    FellegiSunterModel,
    candidate_pairs,
)


def test_blocking_rule_parse_roundtrip():
    r = BlockingRule.parse("l.surname = r.surname AND l.postcode = r.postcode")
    assert r.columns == ("surname", "postcode")
    assert r.to_sql() == "l.surname = r.surname AND l.postcode = r.postcode"
    assert BlockingRule.parse(("a", "b")).columns == ("a", "b")


def test_candidate_pairs_basic(spark):
    df = spark.createDataFrame(
        [("1", "smith", "2000"), ("2", "smith", "2000"), ("3", "jones", "2000")],
        "unique_id string, surname string, postcode string",
    )
    comps = [Comparison("surname", "levenshtein", 2)]
    pairs = candidate_pairs(df, [BlockingRule(("surname",))], comps)
    rows = pairs.collect()
    assert len(rows) == 1
    assert (rows[0]["unique_id_l"], rows[0]["unique_id_r"]) == ("1", "2")
    assert rows[0]["gamma_surname"] == 2


def test_candidate_pairs_disjoint_across_rules(spark):
    # pair (1,2) matches BOTH rules; match-key negation must emit it once
    df = spark.createDataFrame(
        [("1", "smith", "2000"), ("2", "smith", "2000"), ("4", "smith", "9999")],
        "unique_id string, surname string, postcode string",
    )
    comps = [Comparison("surname", "levenshtein", 2)]
    rules = [BlockingRule(("surname",)), BlockingRule(("postcode",))]
    pairs = candidate_pairs(df, rules, comps)
    keyed = {(r["unique_id_l"], r["unique_id_r"]) for r in pairs.collect()}
    assert keyed == {("1", "2"), ("1", "4"), ("2", "4")}
    assert pairs.count() == 3  # no duplicate pair rows


def test_candidate_pairs_null_blocking_col_not_dropped(spark):
    # rows 1/2 match rule 2 (postcode) but have NULL surname: the negation
    # of rule 1 (surname) must be null-safe or the pair silently vanishes
    df = spark.createDataFrame(
        [("1", None, "2000"), ("2", None, "2000"), ("3", "jones", "9999")],
        "unique_id string, surname string, postcode string",
    )
    comps = [Comparison("postcode", "levenshtein", 1)]
    rules = [BlockingRule(("surname",)), BlockingRule(("postcode",))]
    pairs = candidate_pairs(df, rules, comps)
    keyed = {(r["unique_id_l"], r["unique_id_r"]) for r in pairs.collect()}
    assert keyed == {("1", "2")}


def test_scores_monotone_in_agreement(spark, people):
    df = null_sentinel(people)
    comps = [
        Comparison("given_name", "levenshtein", 2),
        Comparison("surname", "levenshtein", 2),
        Comparison("suburb", "levenshtein", 2),
    ]
    model = FellegiSunterModel(comps, [("postcode",)], prior=0.01)
    scored = model.predict(df)
    rows = {
        (r["unique_id_l"], r["unique_id_r"]): r["match_probability"]
        for r in scored.collect()
    }
    # (3,15) is an exact duplicate pair; every gamma exact -> near 1
    exact_pair = rows[("15", "3")] if ("15", "3") in rows else rows[("3", "15")]
    assert exact_pair > 0.99


def test_u_estimation_shifts_params(spark, people):
    df = null_sentinel(people)
    comps = [Comparison("surname", "levenshtein", 2)]
    model = FellegiSunterModel(comps, [("postcode",)])
    before = dict(model.params["surname"].u)
    model.estimate_u(df, target_pairs=500)
    after = model.params["surname"].u
    assert after != before
    # random pairs rarely share a surname -> u(exact) small, u(else) large
    assert after[0] > 0.5


def test_em_converges_and_improves_m(spark, people):
    df = null_sentinel(people)
    comps = [
        Comparison("given_name", "levenshtein", 2),
        Comparison("surname", "levenshtein", 2),
    ]
    model = FellegiSunterModel(comps, [("postcode",)])
    model.estimate_u(df, target_pairs=500)
    assert model.em_lambda is None
    iters = model.estimate_m_em(df, ("postcode",))
    assert 1 <= iters <= model.max_em_iterations
    # the session's within-block match proportion, recorded for scoring
    assert 0.0 < model.em_lambda < 1.0
    m = model.params["surname"].m
    assert m[2] > 0.5  # matches mostly agree exactly on surname


_FOUR = [
    Comparison("given_name", "levenshtein", 2),
    Comparison("surname", "jaro_winkler", 0.9),
    Comparison("suburb", "levenshtein", 1),
    Comparison("postcode", "levenshtein", 1),
]
# the null given_name of the fixture's e5 duplicate drops out of the
# given_name arm, as it does from a plain equi-join
_ARMS = [("given_name",), ("postcode",), ("surname", "suburb")]


def test_em_arms_in_one_call_equal_sequential_calls(spark, people):
    """One call over three arms is three one-arm calls on a fresh model:
    the same m (1e-12), the same total iterations and the same λ."""
    together = FellegiSunterModel(_FOUR, [("postcode",)])
    iters = together.estimate_m_em(people, *_ARMS)
    apart = FellegiSunterModel(_FOUR, [("postcode",)])
    assert iters == sum(apart.estimate_m_em(people, arm) for arm in _ARMS)
    assert together.em_lambda == apart.em_lambda
    for col, p in together.params.items():
        assert p.m.keys() == apart.params[col].m.keys()
        for lvl, m in p.m.items():
            assert m == pytest.approx(apart.params[col].m[lvl], abs=1e-12)


def test_em_contingency_tables_equal_candidate_pair_histograms(
    spark, people, monkeypatch
):
    """The one self-join over all arms yields, per arm, the pattern
    counts of that arm's own blocking join (``candidate_pairs``)."""
    tables = []
    session = FellegiSunterModel._em_session

    def spy(self, active, table, *, fix_u):
        tables.append(table)
        return session(self, active, table, fix_u=fix_u)

    monkeypatch.setattr(FellegiSunterModel, "_em_session", spy)
    FellegiSunterModel(_FOUR, [("postcode",)]).estimate_m_em(people, *_ARMS)
    expected = []
    for arm in _ARMS:
        active = [c for c in _FOUR if c.column not in arm]
        names = [c.gamma_name for c in active]
        pairs = candidate_pairs(people, [BlockingRule(arm)], active)
        expected.append(sorted(
            (tuple(r[g] for g in names), r["count"])
            for r in pairs.groupBy(*names).count().collect()
        ))
    assert tables == expected
    assert all(expected)


def test_em_session_independent_of_partitioning(spark, people):
    """Patterns are sorted before the numpy session, so m and λ are bit
    for bit the same whatever order Spark returns the counts in: a
    1-partition copy against a 4-partition copy whose counts come back
    over 7 uncoalesced shuffle partitions."""
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    saved = [spark.conf.get(k) for k in keys]
    results = []
    try:
        for frame, shuffle in ((people.coalesce(1), "1"), (people.repartition(4), "7")):
            spark.conf.set(keys[0], shuffle)
            spark.conf.set(keys[1], "false")
            model = FellegiSunterModel(_FOUR, [("postcode",)])
            model.estimate_m_em(frame, *_ARMS)
            results.append((
                {c: p.m for c, p in model.params.items()}, model.em_lambda
            ))
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)
    assert results[0] == results[1]


def test_estimate_u_pattern_histogram_equals_exploded_counts(
    spark, people, monkeypatch
):
    """u from the one pattern histogram equals u from per-column level
    counts of an explode over (column, level) rows."""

    def exploded(gammas):
        melted = gammas.select(
            F.explode(F.array(*[
                F.struct(F.lit(g).alias("g"), F.col(g).cast("int").alias("level"))
                for g in gammas.columns
            ])).alias("kv")
        ).select("kv.g", "kv.level")
        out = {g.removeprefix("gamma_"): {} for g in gammas.columns}
        for r in melted.groupBy("g", "level").count().collect():
            out[r["g"].removeprefix("gamma_")][r["level"]] = float(r["count"])
        return out

    df = null_sentinel(people)
    new = FellegiSunterModel(_FOUR, [("postcode",)])
    new.estimate_u(df, target_pairs=500)
    monkeypatch.setattr(
        FellegiSunterModel, "_level_histogram", staticmethod(exploded)
    )
    old = FellegiSunterModel(_FOUR, [("postcode",)])
    old.estimate_u(df, target_pairs=500)
    for col, p in new.params.items():
        assert p.u == old.params[col].u
        assert p.u != FellegiSunterModel(_FOUR, []).params[col].u


def test_end_to_end_dedup_recovers_entities(spark, people):
    """The PR-1 slice: clean -> block -> compare -> score -> cluster."""
    df = null_sentinel(people)
    comps = [
        Comparison("given_name", "jaro_winkler", 0.9),
        Comparison("surname", "levenshtein", 2),
        Comparison("suburb", "levenshtein", 2),
        Comparison("postcode", "levenshtein", 1),
    ]
    model = FellegiSunterModel(
        comps, [("postcode",), ("surname",)], prior=5 / (17 * 16 / 2)
    )
    preds = model.predict(df)
    clusters = cluster_at_threshold(df, preds, 0.8)
    prf = pairwise_prf(clusters, "recid")
    assert prf["recall"] >= 0.8, prf
    assert prf["precision"] >= 0.8, prf


def test_tf_adjustment_rare_values_score_higher(spark):
    """Agreeing on a rare surname must outscore agreeing on a common one
    when tf_adjustment is on; without it they tie."""
    rows = [(str(i), "smith", "2000") for i in range(20)] + [
        ("100", "zyzmalski", "2000"),
        ("101", "zyzmalski", "2000"),
    ]
    df = spark.createDataFrame(rows, "unique_id string, surname string, pc string")

    def probs(tf):
        comps = [Comparison("surname", "levenshtein", 2, tf_adjustment=tf)]
        model = FellegiSunterModel(comps, [("pc",)], prior=0.01)
        got = {}
        for r in model.predict(df).collect():
            if r["surname_l"] != r["surname_r"]:
                continue  # cross pairs (gamma 0) aren't the comparison
            key = "rare" if r["surname_l"] == "zyzmalski" else "common"
            got[key] = r["match_probability"]
        return got

    base = probs(False)
    adj = probs(True)
    assert base["rare"] == base["common"]
    assert adj["rare"] > adj["common"]
    # common values are clamped at the global exact-u: never score below
    # the fuzzy level's evidence direction
    assert adj["common"] <= base["common"] + 1e-9


def test_model_roundtrip_preserves_tf_flag(tmp_path):
    comps = [Comparison("a", "exact", 0, tf_adjustment=True)]
    model = FellegiSunterModel(comps, [("a",)])
    path = str(tmp_path / "m.json")
    model.save(path)
    assert FellegiSunterModel.load(path).comparisons[0].tf_adjustment is True


def test_model_roundtrip_preserves_block_cap(spark, tmp_path):
    """A guarded search's model (AutoLinker past 10k rows) predicts with
    its block cap after save/load; JSON saved without the key loads
    uncapped."""
    import json

    df = spark.createDataFrame(
        [(str(i), "smith") for i in range(4)], "unique_id string, surname string"
    )
    model = FellegiSunterModel(
        [Comparison("surname", "exact", 0)], [("surname",)], max_block_size=2
    )
    path = str(tmp_path / "m.json")
    model.save(path)
    loaded = FellegiSunterModel.load(path)
    assert loaded.max_block_size == 2
    assert loaded.predict(df).count() == model.predict(df).count() == 1
    state = model.to_dict()
    del state["max_block_size"]
    with open(path, "w") as f:
        json.dump(state, f)
    assert FellegiSunterModel.load(path).max_block_size is None


def test_candidate_pairs_max_block_size_link_mode(spark):
    left = spark.createDataFrame(
        [("l1", "smith"), ("l2", "smith"), ("l3", "jones")],
        "unique_id string, surname string",
    )
    right = spark.createDataFrame(
        [("r1", "smith"), ("r2", "jones")],
        "unique_id string, surname string",
    )
    comps = [Comparison("surname", "levenshtein", 2)]
    rule = BlockingRule(("surname",))
    capped = candidate_pairs(
        left, [rule], comps, right_df=right, max_block_size=1
    )
    got = {(r["unique_id_l"], r["unique_id_r"]) for r in capped.collect()}
    # the left smith block (2 rows) is cut to the one row with the
    # smallest xxhash64(id), l2; each side is capped on its own
    assert got == {("l2", "r1"), ("l3", "r2")}


def test_candidate_pairs_block_cap_trim_bounds_pairs(spark):
    rows = [(str(i), "smith", "2000") for i in range(1, 7)]
    df = spark.createDataFrame(
        rows, "unique_id string, surname string, postcode string"
    )
    comps = [Comparison("surname", "levenshtein", 2)]
    rule = BlockingRule(("surname",))
    trimmed = candidate_pairs(df, [rule], comps, max_block_size=3)
    # 6-row block trimmed to a deterministic 3-row subset -> C(3,2) pairs
    assert trimmed.count() == 3
    again = candidate_pairs(df, [rule], comps, max_block_size=3)
    assert sorted(map(tuple, trimmed.collect())) == sorted(
        map(tuple, again.collect())
    )


def test_block_cap_negation_sees_capped_prior_rule(spark):
    # Rows 1..6 form a hot surname block (6 rows > cap 3); the cap keeps
    # the three smallest xxhash64(id) — 1, 3, 4 — so the pair (1, 2) is
    # lost to the surname rule. Rows 1, 2 also share a small postcode
    # block, so the postcode rule's cross-rule negation must NOT exclude
    # the pair — negating the raw prior condition would lose it entirely.
    rows = [(str(i), "smith", f"{2000 + i}") for i in range(3, 7)]
    rows += [("1", "smith", "9999"), ("2", "smith", "9999")]
    df = spark.createDataFrame(
        rows, "unique_id string, surname string, postcode string"
    )
    comps = [Comparison("surname", "levenshtein", 2)]
    rules = [BlockingRule(("surname",)), BlockingRule(("postcode",))]
    capped = candidate_pairs(df, rules, comps, max_block_size=3)
    got = {
        (r["unique_id_l"], r["unique_id_r"], r["match_key"])
        for r in capped.collect()
    }
    assert got == {
        ("1", "3", 0), ("1", "4", 0), ("3", "4", 0),  # capped surname block
        ("1", "2", 1),  # recovered by the postcode rule
    }


def test_match_key_dedup_equals_dropduplicates(spark):
    # Invariant: the no-shuffle match-key negation and the dropDuplicates
    # path must produce the same pair set, whatever the rule overlap.
    import random

    rng = random.Random(7)
    for case in range(3):
        rows = [
            (
                str(i),
                rng.choice(["a", "b", "c", None]),
                rng.choice(["x", "y", None]),
                rng.choice(["p", "q", "r"]),
            )
            for i in range(40)
        ]
        df = spark.createDataFrame(
            rows, "unique_id string, s string, t string, u string"
        )
        comps = [Comparison("u", "levenshtein", 1)]
        rules = [
            BlockingRule(("s",)),
            BlockingRule(("t",)),
            BlockingRule(("s", "t")),
        ]
        a = {
            (r["unique_id_l"], r["unique_id_r"])
            for r in candidate_pairs(df, rules, comps).collect()
        }
        b = {
            (r["unique_id_l"], r["unique_id_r"])
            for r in candidate_pairs(
                df, rules, comps, deduplicate_across_rules=False
            ).collect()
        }
        assert a == b, f"case {case}: {a ^ b}"
