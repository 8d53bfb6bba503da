"""Blocking-rule enumeration + join-size estimation WITHOUT executing joins
(reference parity: SURVEY §3.2 — ``arc_generate_blocking_rules``,
ARC.scala:10-113, ARC_EstimateSquaredCountOR.scala:20-35).

The key optimizer idea of the reference: the candidate-pair count of an
equality blocking rule is ≈ Σ count² over its blocks, so rules can be
costed from per-combination value counts (one aggregation over a sample)
instead of running O(#rules) self-joins. OR-of-AND rules combine arm
estimates by inclusion–exclusion: ``est(A OR B) = n_A·k_B + n_B·k_A −
k_A·k_B`` summed over arm pairs.

Spark-first mapping: combination enumeration is driver-side
``itertools`` (inputs are column-name lists); value counts are one
melt-explode + one shuffle (:func:`profile.combo_value_counts`); per-rule
stats collect to a small dict (the reference does exactly this at
ARC.scala:107-110); the OR search is pure Python arithmetic over that dict.
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import combinations as _combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auto_data_linkage_spark.model import BlockingRule
from auto_data_linkage_spark.profile import (
    _block_stats,
    column_combinations,
    combo_value_counts,
)


# widest arm pool the driver-side pair enumeration will consider (cap on
# the quadratic C(n,2) loop in generate_blocking_rules; cheapest arms kept)
_ARM_CAP = 300

# extension pool per i>=3 re-expansion level: each kept partial extends
# with (i-2)-subsets drawn from the _EXT_CAP cheapest remaining arms.
# Without this the level loop enumerates C(_ARM_CAP, i-2) subsets PER
# PARTIAL (~44k × 2·top_k partials at i=4 — a driver stall on wide
# schemas). Same safety argument as _ARM_CAP: adding an expensive arm
# only raises an OR-rule's estimate, so restricting extensions to cheap
# arms cannot evict a rule that would have survived the final
# comparison_size_limit filter. Worst-case level work is bounded by
# 2·top_k · C(_EXT_CAP, max_rules_per_or_rule-2).
_EXT_CAP = 60

# default estimation-sample size (reference autolinker.py:280-284). Also
# the regime boundary of the scale guard: past this row count the rule
# estimate is a quadratically-scaled sample extrapolation (see
# estimate_is_sampled).
ESTIMATION_SAMPLE_ROWS = 10_000


def estimate_is_sampled(
    n: int, sample_rows: int | None = ESTIMATION_SAMPLE_ROWS
) -> bool:
    """Does the rule estimate of an ``n``-row frame come from a row
    sample? This is the one switch of the scale guard. Below the sample
    the estimate is exact on the frame and rule selection is the
    reference's. Above it the trimmed estimate is a quadratic
    extrapolation that is measured to under-cost hot-block rules by
    10²–10³× (SCALE.md "AutoLinker E2E at 150k rows"), so
    :func:`generate_blocking_rules` adds the untrimmed Σcnt² gate and
    ``AutoLinker`` caps each block at ⌈√comparison_size_limit⌉ rows."""
    return sample_rows is not None and n > sample_rows


@dataclass(frozen=True)
class RuleEstimate:
    """An OR-of-AND blocking rule with its estimated candidate-pair count."""

    arms: tuple[tuple[str, ...], ...]  # each arm = AND of these columns
    estimated_pairs: int

    def to_sql(self) -> str:
        """Reference-style rule string (ARC_ToSplinkRule.scala:17-24)."""
        rendered = [
            "(" + " AND ".join(f"l.{c} = r.{c}" for c in arm) + ")"
            for arm in self.arms
        ]
        return " OR ".join(rendered)

    def to_blocking_rules(self) -> list[BlockingRule]:
        return [BlockingRule(arm) for arm in self.arms]


def count_lookup(
    df: DataFrame,
    attribute_columns: list[str],
    *,
    max_columns_per_and_rule: int = 2,
    min_count: int = 2,
    top_k: int = 1000,
) -> dict[tuple[str, ...], tuple[int, int]]:
    """Stage A (ARC.scala:10-53): per AND-rule (column combination) →
    ``(n_blocks, trimmed_avg_squared_block_size)``.

    One explode + one shuffle builds all combination value counts; the
    per-rule stat table is ≤ #combinations rows — safe to collect.
    """
    return _lookups(
        df,
        attribute_columns,
        max_columns_per_and_rule=max_columns_per_and_rule,
        min_count=min_count,
        top_k=top_k,
    )[0]


def _lookups(
    df: DataFrame,
    attribute_columns: list[str],
    *,
    max_columns_per_and_rule: int = 2,
    min_count: int = 2,
    top_k: int = 1000,
) -> tuple[dict[tuple[str, ...], tuple[int, int]], dict[tuple[str, ...], int]]:
    """:func:`count_lookup` plus, from the same aggregate, each rule's
    UNTRIMMED ``Σ cnt²`` — the true (2×) pair mass on this frame, where
    the reference statistic is a trimmed per-block average (outlier
    blocks replaced by the median, ARC.scala:36-40). A rule whose few
    hot blocks dominate its pair count (the null-sentinel block of a
    mostly-null column, a low-cardinality attribute) keeps a small
    trimmed average while its total grows quadratically. Hot blocks
    also survive row sampling proportionally (cnt_sample ≈ f·cnt, so
    cnt² scales by f², undone by the caller's quadratic scale factor), which
    makes the total a reliable hot-rule detector on the sample."""
    combos = column_combinations(attribute_columns, max_columns_per_and_rule)
    counts = combo_value_counts(df, combos, min_count=min_count)
    stats = _block_stats(counts).orderBy("avg_squared").limit(
        max(top_k, len(combos))
    )
    lookup: dict[tuple[str, ...], tuple[int, int]] = {}
    totals: dict[tuple[str, ...], int] = {}
    for r in stats.collect():
        rule = tuple(r["rule"].split(","))
        lookup[rule] = (int(r["n_blocks"]), int(r["avg_squared"]))
        totals[rule] = int(r["total_squared"])
    return lookup, totals


def estimate_or_rule(
    arms: tuple[tuple[str, ...], ...],
    lookup: dict[tuple[str, ...], tuple[int, int]],
) -> int:
    """Inclusion–exclusion pair-count estimate for an OR of AND-arms —
    exact reference semantics (ARC_EstimateSquaredCountOR.scala:22-35):
    a single arm contributes its trimmed-average squared block size ``k``;
    multi-arm rules sum over arm *pairs* ``n1·k2 + n2·k1 − k1·k2`` where
    ``n`` is the arm's block count."""
    if len(arms) == 1:
        return int(lookup.get(arms[0], (0, 0))[1])
    total = 0
    for a, b in _combinations(arms, 2):
        n1, k1 = lookup[a]
        n2, k2 = lookup[b]
        total += n1 * k2 + n2 * k1 - k1 * k2
    return int(total)  # reference does not clamp negatives


def generate_blocking_rules(
    df: DataFrame,
    attribute_columns: list[str],
    *,
    comparison_size_limit: int = 100_000,
    max_columns_per_and_rule: int = 2,
    max_rules_per_or_rule: int = 3,
    sample_rows: int | None = ESTIMATION_SAMPLE_ROWS,
    seed: int = 42,
    top_k: int = 1000,
) -> list[RuleEstimate]:
    """Full reference pipeline (§3.2 stages A-C): sample → count lookup →
    enumerate OR-rules for i = 1..max arms → estimate → keep rules under
    ``comparison_size_limit``, ordered by estimate descending (richer rules
    first, reference autolinker.py:290-302).

    Defaults match the reference: 100k pair budget (autolinker.py:693),
    ≤2 cols per AND, ≤3 arms per OR (autolinker.py:263-264), 10k-row
    estimation sample (autolinker.py:280-284).

    When the estimate is sampled (:func:`estimate_is_sampled`) a second
    gate the reference lacks also applies: rules whose UNTRIMMED total
    squared block size (``Σ cnt²`` from the same count pass, union-
    bounded over OR arms, sample-scaled like the main estimate) exceeds
    ``comparison_size_limit`` are dropped even when their trimmed
    estimate fits. Below the sample the result is the reference's; the
    order among surviving rules is the same in both regimes.
    """
    n = df.count()
    sampled = df
    scale = 1.0
    gated = estimate_is_sampled(n, sample_rows)
    if gated:
        sampled = df.sample(fraction=sample_rows / n, seed=seed)
        scale = (n / sample_rows) ** 2  # pair counts scale quadratically

    lookup, totals = _lookups(
        sampled,
        attribute_columns,
        max_columns_per_and_rule=max_columns_per_and_rule,
        top_k=top_k,
    )
    if not lookup:
        return []

    def _over_gate(arm_set: tuple[tuple[str, ...], ...]) -> bool:
        # union bound: Σ arm totals ≥ the OR's true total (pairs from
        # several arms are counted once per arm) — conservative
        est = sum(totals[a] for a in arm_set) * scale
        return est > comparison_size_limit

    arms_sorted = sorted(lookup)
    seen: set[tuple[tuple[str, ...], ...]] = set()
    results: list[RuleEstimate] = []

    def add(arm_set: tuple[tuple[str, ...], ...]) -> RuleEstimate:
        est = int(estimate_or_rule(arm_set, lookup) * scale)
        r = RuleEstimate(arm_set, est)
        if arm_set not in seen:
            seen.add(arm_set)
            results.append(r)
        return r

    # i=1: single-arm rules
    for arm in arms_sorted:
        add((arm,))

    # i>=2: the reference's top-k re-expansion (ARC.scala:56-83 via
    # ARC_GeneratePartialCombinations.scala:11-51): score ALL 2-arm
    # combinations, keep the top `top_k` partials by estimate DESCENDING
    # (richer rules first — affordability is filtered at the end, exactly
    # like the reference's python side), then for i>2 extend each kept
    # partial with every (i-2)-subset of the remaining arms, dedup on the
    # sorted arm set, and keep the level's top `top_k`. All arithmetic is
    # driver-side over the collected count lookup — the same place the
    # reference evaluates its countMap. Two deviations from the
    # reference, both only ADDING coverage / bounding cost:
    # - pairing is capped at the `_ARM_CAP` cheapest arms (a very wide
    #   schema otherwise enumerates C(5000, 2) sets in driver Python;
    #   expensive arms only make ORs more expensive, so the cheap cap
    #   cannot evict affordable rules),
    # - alongside the reference's descending beam, the top_k AFFORDABLE
    #   pairs are retained too — a desc-only beam over a space larger
    #   than top_k would evict exactly the combinations that survive the
    #   final comparison_size_limit filter.
    if max_rules_per_or_rule >= 2:
        pair_arms = arms_sorted
        if len(pair_arms) > _ARM_CAP:
            pair_arms = sorted(
                pair_arms, key=lambda a: (lookup[a][1], a)
            )[:_ARM_CAP]
            pair_arms.sort()
        pairs = [
            RuleEstimate(
                tuple(sorted(p)), int(estimate_or_rule(tuple(sorted(p)), lookup) * scale)
            )
            for p in _combinations(pair_arms, 2)
        ]
        pairs.sort(key=lambda r: (-r.estimated_pairs, r.arms))
        beam = pairs[:top_k]
        affordable_pairs = [
            r for r in pairs if r.estimated_pairs < comparison_size_limit
        ][:top_k]
        partials = list(
            dict.fromkeys([r.arms for r in beam] + [r.arms for r in affordable_pairs])
        )
        for arm_set in partials:
            add(arm_set)
        # cheapest-first extension pool (bounds the i>=3 level loop; see
        # _EXT_CAP note — expensive arms can't produce affordable rules)
        ext_arms = sorted(
            pair_arms, key=lambda a: (lookup[a][1], a)
        )[:_EXT_CAP]
        ext_arms.sort()
        for i in range(3, max_rules_per_or_rule + 1):
            level: dict[tuple, int] = {}
            for partial in partials:
                rest = [a for a in ext_arms if a not in partial]
                for ext in _combinations(rest, i - 2):
                    arm_set = tuple(sorted((*partial, *ext)))
                    if arm_set not in level:
                        level[arm_set] = int(
                            estimate_or_rule(arm_set, lookup) * scale
                        )
            ranked = sorted(level.items(), key=lambda kv: (-kv[1], kv[0]))
            affordable_level = [
                kv for kv in ranked if kv[1] < comparison_size_limit
            ][:top_k]
            for arm_set, _ in list(
                dict.fromkeys(ranked[:top_k] + affordable_level)
            ):
                add(arm_set)

    affordable = [
        r
        for r in results
        if r.estimated_pairs < comparison_size_limit
        and not (gated and _over_gate(r.arms))
    ]
    affordable.sort(key=lambda r: (-r.estimated_pairs, r.arms))
    return affordable[:top_k]


def salted_self_join_pairs(
    df: DataFrame,
    block_columns: tuple[str, ...] | list[str],
    *,
    salt_buckets: int = 8,
    hot_threshold: int | None = None,
    id_column: str = "unique_id",
    select_columns: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """LOSSLESS skew-safe blocking self-join: every ``id_l < id_r`` pair
    sharing the block key, with no block ever landing on one reducer.

    This is the documented default for skewed candidate generation (AQE
    skew-splitting handles moderate skew on its own; beyond that, salt).
    The classic replicated-salt scheme:

    - probe side: one salt per row, ``hash(id) % B`` (hot blocks only
      when ``hot_threshold`` is set, else every block),
    - build side: each row REPLICATED across all ``B`` salts via a
      constant-array explode,
    - join on (block cols, salt) + ``id_l < id_r``.

    A pair (a, b) meets exactly once — at salt ``hash(a) % B``, because b
    is present at every salt — so the pair set equals the unsalted join's
    (property-tested); salting both sides by row would drop cross-salt
    pairs. Cost: the build side is shipped ``B`` times (explode happens
    before the exchange), in return for the widest block splitting into
    ``B`` shuffle partitions. Pick B ≈ hot-block-rows / desired-partition-
    rows. With ``hot_threshold``, cold blocks skip replication entirely
    (salt 0 on both sides), so the multiplier only applies to hot rows.
    """
    keys = list(block_columns)
    cols = [id_column, *keys, *[c for c in select_columns if c not in keys]]
    base = df.select(*dict.fromkeys(cols))
    B = int(salt_buckets)

    if hot_threshold is None:
        hot = F.lit(True)
        probe = base
    else:
        counts = base.groupBy(*[F.col(c) for c in keys]).agg(
            F.count("*").alias("__bs_cnt")
        )
        # per-block counts are ≤ |distinct block values| rows; broadcast
        probe = base.join(F.broadcast(counts), keys, "left")
        hot = F.col("__bs_cnt") > hot_threshold
    left = probe.withColumn(
        "__salt",
        F.when(hot, F.pmod(F.xxhash64(F.col(id_column)), F.lit(B)))
        .otherwise(F.lit(0))
        .cast("int"),
    ).drop("__bs_cnt")

    if hot_threshold is None:
        right_salts = F.sequence(F.lit(0), F.lit(B - 1))
        build = base
    else:
        right_salts = F.when(hot, F.sequence(F.lit(0), F.lit(B - 1))).otherwise(
            F.array(F.lit(0))
        )
        build = probe
    right = (
        build.withColumn("__salt", F.explode(right_salts))
        .withColumn("__salt", F.col("__salt").cast("int"))
        .drop("__bs_cnt")
    )

    la, ra = left.alias("l"), right.alias("r")
    cond = F.col(f"l.{id_column}") < F.col(f"r.{id_column}")
    for k in [*keys, "__salt"]:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    out_cols = [
        F.col(f"l.{id_column}").alias(f"{id_column}_l"),
        F.col(f"r.{id_column}").alias(f"{id_column}_r"),
        *[F.col(f"l.{k}").alias(k) for k in keys],
    ]
    for c in select_columns:
        # id_column already emitted as id_l/id_r; keys emitted unsuffixed
        if c not in keys and c != id_column:
            out_cols.append(F.col(f"l.{c}").alias(f"{c}_l"))
            out_cols.append(F.col(f"r.{c}").alias(f"{c}_r"))
    return la.join(ra, cond, "inner").select(*out_cols)


def deterministic_rule(rules: list[RuleEstimate]) -> RuleEstimate | None:
    """The reference's deterministic-rule heuristic (autolinker.py:298):
    among the 500 smallest-estimate rules, pick the largest — a rule tight
    enough to be nearly deterministic but as productive as possible."""
    if not rules:
        return None
    smallest = sorted(rules, key=lambda r: r.estimated_pairs)[:500]
    return max(smallest, key=lambda r: r.estimated_pairs)
