import pytest

from auto_data_linkage_spark.blocking import (
    RuleEstimate,
    count_lookup,
    deterministic_rule,
    estimate_or_rule,
    generate_blocking_rules,
)
from auto_data_linkage_spark.model import BlockingRule, candidate_pairs
from auto_data_linkage_spark.compare import Comparison


def test_estimate_or_rule_reference_semantics():
    """Exact parity with ARC_EstimateSquaredCountOR.scala:22-35: singleton
    -> its avg squared count; pairs -> n1*k2 + n2*k1 - k1*k2 summed."""
    lookup = {("a",): (10, 100), ("b",): (20, 50), ("c",): (5, 9)}
    assert estimate_or_rule((("a",),), lookup) == 100
    assert estimate_or_rule((("a",), ("b",)), lookup) == 10 * 50 + 20 * 100 - 100 * 50
    three = (
        (10 * 50 + 20 * 100 - 100 * 50)
        + (10 * 9 + 5 * 100 - 100 * 9)
        + (20 * 9 + 5 * 50 - 50 * 9)
    )
    assert estimate_or_rule((("a",), ("b",), ("c",)), lookup) == three


def test_rule_estimate_to_sql():
    r = RuleEstimate((("surname", "postcode"), ("suburb",)), 42)
    assert r.to_sql() == (
        "(l.surname = r.surname AND l.postcode = r.postcode) OR (l.suburb = r.suburb)"
    )
    assert [b.columns for b in r.to_blocking_rules()] == [
        ("surname", "postcode"), ("suburb",)
    ]


def test_count_lookup_shapes(spark, people):
    lookup = count_lookup(
        people, ["surname", "postcode"], max_columns_per_and_rule=2, min_count=1
    )
    assert ("surname",) in lookup
    assert ("postcode",) in lookup
    assert ("postcode", "surname") in lookup
    for n, k in lookup.values():
        assert n >= 1 and k >= 1


def test_generated_rules_estimates_track_true_counts(spark, people):
    """The estimate is a heuristic — verify it orders rules consistently
    with TRUE blocking-join pair counts (SURVEY §7: verify by comparison,
    not bit-for-bit)."""
    rules = generate_blocking_rules(
        people,
        ["surname", "postcode", "suburb"],
        comparison_size_limit=10_000,
        sample_rows=None,
    )
    assert rules, "expected at least one affordable rule"
    comps = [Comparison("surname", "exact", 0)]
    sizes = {}
    for r in rules:
        if len(r.arms) != 1:
            continue
        true_pairs = candidate_pairs(
            people, r.to_blocking_rules(), comps
        ).count()
        sizes[r.arms] = (r.estimated_pairs, true_pairs)
    ests = [v[0] for v in sizes.values()]
    trues = [v[1] for v in sizes.values()]
    # estimates within a constant factor of n^2-flavored truth, and ranking
    # broadly agrees: the cheapest-estimated single rule is among the
    # cheapest by truth
    best_est = min(sizes, key=lambda a: sizes[a][0])
    assert sizes[best_est][1] <= sorted(trues)[1 if len(trues) > 1 else 0]


def test_budget_filter(spark, people):
    rules = generate_blocking_rules(
        people, ["surname", "postcode"], comparison_size_limit=1, sample_rows=None
    )
    assert rules == []


def test_deterministic_rule_picks_largest_of_smallest():
    rules = [RuleEstimate((("a",),), e) for e in (5, 50, 500)]
    assert deterministic_rule(rules).estimated_pairs == 500
    assert deterministic_rule([]) is None


def test_or_rule_search_covers_wide_schema_exhaustively(spark):
    """Reference-parity breadth (ARC.scala top-1000 re-expansion): on a
    wide schema whose combination space fits inside the beam, the search
    must return EVERY affordable OR rule an exhaustive enumeration finds
    — the old 40-cheapest-arm shortcut silently dropped rules whose arms
    weren't individually cheap."""
    import random
    from itertools import combinations

    from auto_data_linkage_spark.blocking import (
        count_lookup,
        estimate_or_rule,
        generate_blocking_rules,
    )

    rng = random.Random(13)
    n_cols = 12
    rows = [
        tuple(f"v{rng.randrange(2 + (c % 7))}" for c in range(n_cols))
        for _ in range(400)
    ]
    cols = [f"c{i}" for i in range(n_cols)]
    df = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))

    limit = 50_000
    got = generate_blocking_rules(
        df,
        cols,
        comparison_size_limit=limit,
        max_columns_per_and_rule=1,
        max_rules_per_or_rule=3,
        sample_rows=None,
        top_k=1000,
    )
    got_sets = {r.arms for r in got}

    lookup = count_lookup(df, cols, max_columns_per_and_rule=1)
    arms = sorted(lookup)
    exhaustive = set()
    for i in (1, 2, 3):
        for arm_set in combinations(arms, i):
            if estimate_or_rule(arm_set, lookup) < limit:
                exhaustive.add(arm_set)
    # same budget (top_k=1000): every affordable exhaustive rule that fits
    # in the final top-1000 must be present
    missing = exhaustive - got_sets
    assert len(exhaustive) <= 1000  # precondition: budget covers the space
    assert not missing, sorted(missing)[:5]


def test_or_rule_search_beam_overflow_returns_true_affordable_topk(spark):
    """Review finding: a descending-only beam over >top_k pair sets can
    evict affordable combinations before the final limit filter. With
    top_k far below C(n,2), the result must equal the TRUE top-k of the
    exhaustively-enumerated affordable rule set."""
    import random
    from itertools import combinations

    from auto_data_linkage_spark.blocking import (
        count_lookup,
        estimate_or_rule,
        generate_blocking_rules,
    )

    rng = random.Random(3)
    cols = [f"c{i}" for i in range(8)]
    rows = [
        tuple(f"v{rng.randrange(2 + 7 * (c % 4))}" for c in range(8))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))
    limit, k = 30_000, 5  # k far below C(8,2)=28 pair sets
    got = generate_blocking_rules(
        df,
        cols,
        comparison_size_limit=limit,
        max_columns_per_and_rule=1,
        max_rules_per_or_rule=2,
        sample_rows=None,
        top_k=k,
    )
    lookup = count_lookup(df, cols, max_columns_per_and_rule=1)
    arms = sorted(lookup)
    exhaustive = [
        (tuple(sorted(s)), estimate_or_rule(tuple(sorted(s)), lookup))
        for i in (1, 2)
        for s in combinations(arms, i)
    ]
    want = sorted(
        [x for x in exhaustive if x[1] < limit], key=lambda x: (-x[1], x[0])
    )[:k]
    assert [(r.arms, r.estimated_pairs) for r in got] == want


# ----------------------------------------- untrimmed total-pairs guard
# The reference's estimator is a TRIMMED per-block average: hot-block
# rules keep a small trimmed estimate while their true pair count
# explodes (measured at 150k rows — SCALE.md "AutoLinker E2E"). Once the
# estimate is sampled, generate_blocking_rules also gates on the
# UNTRIMMED total from the same count pass.


def _skewed_df(spark):
    """`hot`: two 60-row blocks + 80 singleton-ish blocks — the trimmed
    estimate collapses toward the tiny median while the true squared
    total is 2·60² + tail; `pc`: 40 uniform 4-row blocks (benign)."""
    rows = []
    uid = 0
    for b in range(2):
        for _ in range(60):
            rows.append((uid, f"hot{b}", f"pc{uid % 40}")); uid += 1
    for t in range(40):
        for _ in range(2):
            rows.append((uid, f"tail{t}", f"pc{uid % 40}")); uid += 1
    return spark.createDataFrame(rows, "unique_id long, hot string, pc string")


def test_count_pass_totals_are_untrimmed(spark):
    from auto_data_linkage_spark.blocking import _lookups

    df = _skewed_df(spark)
    lookup, totals = _lookups(df, ["hot", "pc"], max_columns_per_and_rule=1)
    assert lookup == count_lookup(df, ["hot", "pc"], max_columns_per_and_rule=1)
    # untrimmed: the two 60-row blocks dominate (2·3600 + 40·4 = 7360)
    assert totals[("hot",)] == 2 * 60 * 60 + 40 * 2 * 2
    assert totals[("pc",)] == 40 * 5 * 5  # 200 rows over 40 blocks of 5


def test_total_pairs_guard_drops_hot_rule_trim_admits(spark):
    """Sampled regime: the untrimmed gate evicts the hot rule the trimmed
    estimate admits, and leaves the surviving rules' estimates and
    order unchanged."""
    df = _skewed_df(spark)
    n, limit, sample_rows = 200, 3_000, 199  # sampled: n > sample_rows
    got = generate_blocking_rules(
        df, ["hot", "pc"],
        comparison_size_limit=limit,
        max_columns_per_and_rule=1,
        max_rules_per_or_rule=2,
        sample_rows=sample_rows,
    )
    # the trimmed-only selection on the same sample
    sample = df.sample(fraction=sample_rows / n, seed=42)
    lookup = count_lookup(sample, ["hot", "pc"], max_columns_per_and_rule=1)
    scale = (n / sample_rows) ** 2
    trimmed = sorted(
        (
            (arms, est)
            for arms in ((("hot",),), (("pc",),), (("hot",), ("pc",)))
            if (est := int(estimate_or_rule(arms, lookup) * scale)) < limit
        ),
        key=lambda x: (-x[1], x[0]),
    )
    assert (("hot",),) in [arms for arms, _ in trimmed]
    assert [(r.arms, r.estimated_pairs) for r in got] == [
        (arms, est) for arms, est in trimmed if ("hot",) not in arms
    ]
    assert [r.arms for r in got] == [(("pc",),)]


def test_total_pairs_guard_default_is_reference_parity(spark):
    """Below the estimation sample there is no gate: the hot rule the
    trimmed estimate admits stays admitted, as in the reference."""
    df = _skewed_df(spark)
    kw = dict(
        comparison_size_limit=3_000,
        max_columns_per_and_rule=1,
        max_rules_per_or_rule=1,
    )
    default = generate_blocking_rules(df, ["hot", "pc"], **kw)
    assert default == generate_blocking_rules(
        df, ["hot", "pc"], sample_rows=None, **kw
    )
    assert {r.arms[0] for r in default} == {("hot",), ("pc",)}
