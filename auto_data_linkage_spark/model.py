"""Fellegi–Sunter probabilistic linkage model (reference parity: SURVEY
§2.10 L1–L5 — the Splink-executed pipeline ARC drives).

Spark-first design decisions:

- **Candidate pairs without a union-dedup shuffle.** The reference's engine
  unions per-rule blocking joins and de-duplicates pairs. We instead attach
  to rule *i* the negation of rules ``0..i-1`` (``AND NOT (prev)``), so each
  pair is produced by exactly one join and no `dropDuplicates` shuffle is
  needed. Each rule's join is an equi-join on its AND-clause keys — Catalyst
  picks hash/sort-merge/broadcast, AQE handles skew.
- **EM on a contingency table, not per-iteration Spark jobs.** The gamma
  vector has at most ``4^k`` distinct patterns for ``k`` comparison columns
  (levels −1..2). One self-join over every training arm's tagged rows
  and one ``groupBy(arm, gammas).count()`` build all the pattern
  histograms (tiny), and EM iterates driver-side in numpy over them —
  mathematically identical to per-row EM but with one Spark query per EM
  call, whatever the number of arms, instead of two jobs per iteration.
  At 100 TB this is the difference between minutes and hours.
  u-estimation reads its per-column level counts off the same kind of
  pattern histogram.
- **Scoring is a codegen'd projection**: per-column Bayes factors are a
  constant-array lookup indexed by the gamma level (each gamma referenced
  exactly once — a when() ladder triples the cost when a threshold filter
  pushes through the projection), ``match_weight = log2(prior odds) +
  Σ log2(m/u)``, probability via the logistic in base 2. No UDFs.

Reference drive points: python/arc/autolinker/autolinker.py:538-566 (settings,
prior 1/N, u-estimation, per-rule EM, predict).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from auto_data_linkage_spark.compare import (
    ELSE_LEVEL,
    EXACT_LEVEL,
    FUZZY_LEVEL,
    NULL_LEVEL,
    Comparison,
)


@dataclass
class BlockingRule:
    """An equality blocking rule: AND of column equalities, e.g.
    ``["surname", "postcode"]`` → ``l.surname = r.surname AND
    l.postcode = r.postcode`` (reference ARC_ToSplinkRule.scala:17-24)."""

    columns: tuple[str, ...]

    @classmethod
    def parse(cls, rule: str | tuple | list | BlockingRule) -> BlockingRule:
        if isinstance(rule, BlockingRule):
            return rule
        if isinstance(rule, (tuple, list)):
            return cls(tuple(rule))
        # accept "l.a = r.a AND l.b = r.b" reference-style strings
        cols = []
        for clause in rule.split(" AND "):
            lhs = clause.strip().split("=")[0].strip()
            cols.append(lhs.removeprefix("l."))
        return cls(tuple(cols))

    def to_sql(self) -> str:
        return " AND ".join(f"l.{c} = r.{c}" for c in self.columns)

    def join_condition(self, left_alias: str = "l", right_alias: str = "r"):
        """Alias-qualified equi-join condition (self-join safe)."""
        cond = None
        for c in self.columns:
            eq = F.col(f"{left_alias}.{c}") == F.col(f"{right_alias}.{c}")
            cond = eq if cond is None else (cond & eq)
        return cond


def candidate_pairs(
    df: DataFrame,
    rules: list[BlockingRule],
    comparisons: list[Comparison],
    unique_id: str = "unique_id",
    *,
    right_df: DataFrame | None = None,
    deduplicate_across_rules: bool = True,
    max_block_size: int | None = None,
) -> DataFrame:
    """Generate candidate pairs via blocking self-join (J5) and attach
    gamma columns.

    Output schema: ``{uid}_l, {uid}_r, <col>_l, <col>_r ..., gamma_<col> ...``
    with ``uid_l < uid_r`` for dedup mode (each unordered pair once).

    ``deduplicate_across_rules`` uses the match-key technique: rule *i*'s
    join carries ``NOT(rule_j)`` for all ``j < i`` so the union is
    disjoint — no distinct/dropDuplicates shuffle over the (potentially
    enormous) pair table.

    ``max_block_size`` caps individual blocks. The reference only budgets
    at RULE granularity (autolinker.py:293 filters on the rule's estimated
    pair count), so one hot value inside an otherwise-fine rule — the null
    sentinel over a mostly-null column, "smith" in a surname block — still
    yields count² pairs; at 100 TB that single block is the job-killer.
    The cap keeps a deterministic subset of ``max_block_size`` rows per
    block (smallest ``xxhash64(id)`` first), so every block contributes
    ≤ cap²/2 pairs while hot blocks still participate — a documented
    recall trade, off by default. The window shuffle it costs is on the
    block key the join needs anyway.

    For bounding TASK size (not output size) under skew without losing
    pairs, see :func:`blocking.salted_self_join_pairs`.
    """
    cols = sorted({c.column for c in comparisons})
    rule_cols = sorted({c for r in rules for c in r.columns})
    link_mode = right_df is not None
    sel = [F.col(unique_id)] + [
        F.col(c) for c in sorted(set(cols) | set(rule_cols))
    ]
    left_base = df.select(*sel)
    right_base = (right_df.select(*sel) if link_mode else left_base)

    def _with_surv_flags(base: DataFrame) -> DataFrame:
        """Attach one ``__surv_{j}`` boolean per rule: does this row
        participate in rule j's join under the block cap? Flags (not
        pre-filtered frames) let the cross-rule negation reason about
        what a CAPPED prior rule actually produced — negating the raw
        prior condition would also drop pairs the prior rule lost to its
        cap, compounding the recall trade across rules."""
        out = base
        for j, rule in enumerate(rules):
            w = Window.partitionBy(*[F.col(c) for c in rule.columns]).orderBy(
                F.xxhash64(F.col(unique_id)), F.col(unique_id)
            )
            out = out.withColumn(
                f"__surv_{j}", F.row_number().over(w) <= max_block_size
            )
        return out

    if max_block_size is not None:
        left_base = _with_surv_flags(left_base)
        right_base = (
            _with_surv_flags(right_base) if link_mode else left_base
        )

    def _produced_by(rule_idx: int, rule: BlockingRule):
        """Join condition under which ``rule`` emits a pair, including its
        block cap when one is set."""
        cond = rule.join_condition()
        if max_block_size is not None:
            cond = (
                cond
                & F.col(f"l.__surv_{rule_idx}")
                & F.col(f"r.__surv_{rule_idx}")
            )
        return cond

    parts = []
    for i, rule in enumerate(rules):
        left = left_base.alias("l")
        right = right_base.alias("r")
        cond = _produced_by(i, rule)
        if not link_mode:
            cond = cond & (F.col(f"l.{unique_id}") < F.col(f"r.{unique_id}"))
        if deduplicate_across_rules:
            for j, prev in enumerate(rules[:i]):
                # null-safe negation: if a prior rule's column is NULL the
                # raw negation is NULL and AND would silently drop the pair
                # even though the prior rule never produced it (Splink wraps
                # exclusions in coalesce(..., false) for the same reason)
                cond = cond & ~F.coalesce(
                    _produced_by(j, prev), F.lit(False)
                )
        pair = left.join(right, cond, "inner").select(
            F.col(f"l.{unique_id}").alias(f"{unique_id}_l"),
            F.col(f"r.{unique_id}").alias(f"{unique_id}_r"),
            *[F.col(f"l.{c}").alias(f"{c}_l") for c in cols],
            *[F.col(f"r.{c}").alias(f"{c}_r") for c in cols],
            F.lit(i).alias("match_key"),
        )
        parts.append(pair)
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionByName(p)
    if not deduplicate_across_rules:
        pairs = pairs.dropDuplicates([f"{unique_id}_l", f"{unique_id}_r"])
    gamma_exprs = [c.gamma_expr() for c in comparisons]
    return pairs.select("*", *gamma_exprs)


@dataclass
class ComparisonParams:
    """m/u probabilities per gamma level for one comparison column."""

    comparison: Comparison
    m: dict[int, float] = field(default_factory=dict)
    u: dict[int, float] = field(default_factory=dict)

    def bayes_factor(self, level: int) -> float:
        m = max(self.m.get(level, 1e-9), 1e-9)
        u = max(self.u.get(level, 1e-9), 1e-9)
        return m / u


_DEFAULT_M = {EXACT_LEVEL: 0.9, FUZZY_LEVEL: 0.08, ELSE_LEVEL: 0.02}
_DEFAULT_U = {EXACT_LEVEL: 0.01, FUZZY_LEVEL: 0.04, ELSE_LEVEL: 0.95}


class FellegiSunterModel:
    """Trainable Fellegi–Sunter model over a set of comparisons.

    Lifecycle mirrors the reference's Splink drive (autolinker.py:549-561):
    ``prior = 1/N`` → :meth:`estimate_u` (random pair sampling) →
    :meth:`estimate_m_em` over the training rules → :meth:`predict`.
    Defaults are usable untrained (fixed m/u) for the no-training slice.
    """

    def __init__(
        self,
        comparisons: list[Comparison],
        blocking_rules: list[BlockingRule | str | tuple],
        unique_id: str = "unique_id",
        prior: float | None = None,
        em_convergence: float = 0.01,
        max_em_iterations: int = 60,
        max_block_size: int | None = None,
    ):
        self.comparisons = comparisons
        self.blocking_rules = [BlockingRule.parse(r) for r in blocking_rules]
        self.unique_id = unique_id
        self.prior = prior
        self.em_convergence = em_convergence
        self.max_em_iterations = max_em_iterations
        self.max_block_size = max_block_size
        self.params: dict[str, ComparisonParams] = {
            c.column: ComparisonParams(c, dict(_DEFAULT_M), dict(_DEFAULT_U))
            for c in comparisons
        }
        self._m_sessions: dict[str, list[dict[int, float]]] = {
            c.column: [] for c in comparisons
        }
        # within-block match proportion of the last EM session that ran
        self.em_lambda: float | None = None

    # ------------------------------------------------------------------ u
    def estimate_u(
        self, df: DataFrame, target_pairs: int = 1_000_000, seed: int = 42,
        n: int | None = None,
    ) -> None:
        """u-estimation by random pair sampling (L3; Splink
        ``estimate_u_using_random_sampling`` semantics): sample rows so that
        the self-join of the sample yields ≈ ``target_pairs`` pairs, assume
        every sampled pair is a non-match (true at realistic duplicate
        rates), and take the gamma-level frequencies as u.

        One shuffle (the sample self-join is a cross join on a ~√target
        sample — executed as a broadcast nested loop on a few thousand rows).
        Pass ``n``, ``df``'s row count, to save the job that counts it.
        """
        if n is None:
            n = df.count()
        cols = sorted({c.column for c in self.comparisons})
        sample_rows = min(n, max(int(math.sqrt(2.0 * target_pairs)) + 1, 10))
        frac = min(1.0, sample_rows / max(n, 1))
        sample = (
            df.select(self.unique_id, *cols).sample(fraction=frac, seed=seed).cache()
        )
        left = sample.alias("l")
        right = sample.alias("r")
        pairs = left.join(
            right,
            F.col(f"l.{self.unique_id}") < F.col(f"r.{self.unique_id}"),
            "inner",
        ).select(
            *[F.col(f"l.{c}").alias(f"{c}_l") for c in cols],
            *[F.col(f"r.{c}").alias(f"{c}_r") for c in cols],
        )
        gammas = pairs.select(*[c.gamma_expr() for c in self.comparisons])
        counts = self._level_histogram(gammas)
        for comp in self.comparisons:
            hist = counts[comp.column]
            total = sum(v for lvl, v in hist.items() if lvl != NULL_LEVEL)
            if total == 0:
                continue
            self.params[comp.column].u = {
                lvl: max(v / total, 1e-9)
                for lvl, v in hist.items()
                if lvl != NULL_LEVEL
            }
        sample.unpersist()

    @staticmethod
    def _level_histogram(gammas: DataFrame) -> dict[str, dict[int, float]]:
        """Per-gamma-column level counts from ONE pattern histogram:
        ``groupBy(*gammas).count()`` has at most ``4^k`` rows (levels
        −1..2 per column), and the driver sums each column's marginal
        from it."""
        gcols = gammas.columns
        out: dict[str, dict[int, float]] = {g.removeprefix("gamma_"): {} for g in gcols}
        for r in gammas.groupBy(*gcols).count().collect():
            for g in gcols:
                hist = out[g.removeprefix("gamma_")]
                hist[r[g]] = hist.get(r[g], 0.0) + r["count"]
        return out

    # ----------------------------------------------------------------- EM
    def estimate_m_em(
        self, df: DataFrame, *training_rules: BlockingRule | str | tuple,
        fix_u: bool = True,
    ) -> int:
        """EM m-estimation, one session per training rule (L4).

        Each rule is one arm, and one Spark query serves all of them: every
        arm's rows carry the arm's index and are unioned, ONE self-join on
        ``(arm, the arm's columns)`` makes every arm's candidate pairs,
        and one ``groupBy(arm, gammas).count()`` builds every arm's
        gamma-pattern contingency table — the jobs of a one-arm call,
        whatever the number of arms. A comparison whose column an arm
        blocks on is excluded from that arm's session (its gamma is forced
        exact by the block), so its gamma there is a NULL literal, never
        evaluated. The sessions then run driver-side in numpy, in rule
        order, each until the max absolute parameter delta ≤
        ``em_convergence`` (reference default 0.01, autolinker.py:544) —
        exactly as one call per rule would. A list or tuple is the columns
        of ONE rule. Returns the total of the sessions' iterations and
        records the last session's within-block match proportion as
        ``em_lambda``.
        """
        rules = [BlockingRule.parse(r) for r in training_rules]
        arms = [
            [c for c in self.comparisons if c.column not in rule.columns]
            for rule in rules
        ]
        live = [i for i, active in enumerate(arms) if active]
        if not live:
            return 0
        uid = self.unique_id
        cols = sorted({c.column for c in self.comparisons})
        keys = sorted({k for i in live for k in rules[i].columns})
        # an arm's join key is its own columns, with the other rule
        # columns NULL on both sides and compared null-safe; a row with a
        # NULL in its arm's columns drops out, as it does from l.c = r.c
        tagged = None
        for i in live:
            own = rules[i].columns
            part = df.dropna(subset=list(own)).select(
                uid,
                F.lit(i).alias("__arm"),
                *[
                    (F.col(k) if k in own
                     else F.lit(None).cast(df.schema[k].dataType)).alias(f"__k_{k}")
                    for k in keys
                ],
                *cols,
            )
            tagged = part if tagged is None else tagged.unionByName(part)
        left, right = tagged.alias("l"), tagged.alias("r")
        cond = (F.col("l.__arm") == F.col("r.__arm")) & (
            F.col(f"l.{uid}") < F.col(f"r.{uid}")
        )
        for k in keys:
            cond = cond & F.col(f"l.__k_{k}").eqNullSafe(F.col(f"r.__k_{k}"))
        pairs = left.join(right, cond, "inner").select(
            F.col("l.__arm").alias("__arm"),
            *[F.col(f"l.{c}").alias(f"{c}_l") for c in cols],
            *[F.col(f"r.{c}").alias(f"{c}_r") for c in cols],
        )
        gammas = []
        for c in self.comparisons:
            blocked = [i for i in live if c.column in rules[i].columns]
            gammas.append(
                F.when(F.col("__arm").isin(blocked), F.lit(None).cast("int"))
                .otherwise(c.gamma_expr()).alias(c.gamma_name)
                if blocked else c.gamma_expr()
            )
        gcols = [c.gamma_name for c in self.comparisons]
        rows = (
            pairs.select("__arm", *gammas).groupBy("__arm", *gcols)
            .count().collect()
        )
        iters = 0
        for i, active in enumerate(arms):
            names = [c.gamma_name for c in active]
            # sorted, so the session does not depend on Spark's row order
            table = sorted(
                (tuple(row[g] for g in names), row["count"])
                for row in rows if row["__arm"] == i
            )
            iters += self._em_session(active, table, fix_u=fix_u)
        return iters

    def _em_session(
        self, active: list[Comparison], table: list[tuple[tuple, int]], *,
        fix_u: bool,
    ) -> int:
        """One EM session over a ``(pattern, count)`` contingency table of
        the ``active`` comparisons' gammas; folds the session's m into the
        per-column mean over sessions. Returns the iterations run."""
        if not table:
            return 0
        patterns = np.array([p for p, _ in table], dtype=np.int64)
        counts = np.array([n for _, n in table], dtype=np.float64)

        levels = [EXACT_LEVEL, FUZZY_LEVEL, ELSE_LEVEL]
        # parameter matrices: comp x level
        m = np.array(
            [[self.params[c.column].m.get(l, 1e-9) for l in levels] for c in active]
        )
        u = np.array(
            [[self.params[c.column].u.get(l, 1e-9) for l in levels] for c in active]
        )
        lam = 0.5  # within-block match proportion, re-estimated by EM
        level_index = {l: i for i, l in enumerate(levels)}

        iters = 0
        for iters in range(1, self.max_em_iterations + 1):
            # E-step: P(match | gamma pattern) per pattern, vectorized
            log_m = np.zeros(len(counts))
            log_u = np.zeros(len(counts))
            for k in range(len(active)):
                lv = patterns[:, k]
                valid = lv != NULL_LEVEL
                idx = np.array([level_index.get(v, 0) for v in lv])
                log_m[valid] += np.log(np.maximum(m[k, idx[valid]], 1e-12))
                log_u[valid] += np.log(np.maximum(u[k, idx[valid]], 1e-12))
            w_m = lam * np.exp(log_m)
            w_u = (1 - lam) * np.exp(log_u)
            p = w_m / np.maximum(w_m + w_u, 1e-300)

            # M-step
            new_m = np.empty_like(m)
            new_u = np.empty_like(u)
            for k in range(len(active)):
                lv = patterns[:, k]
                valid = lv != NULL_LEVEL
                wm = counts[valid] * p[valid]
                wu = counts[valid] * (1 - p[valid])
                for li, l in enumerate(levels):
                    mask = lv[valid] == l
                    new_m[k, li] = max(wm[mask].sum() / max(wm.sum(), 1e-12), 1e-9)
                    new_u[k, li] = max(wu[mask].sum() / max(wu.sum(), 1e-12), 1e-9)
            new_lam = float((counts * p).sum() / counts.sum())
            if fix_u:
                new_u = u
            delta = max(
                float(np.abs(new_m - m).max()),
                float(np.abs(new_u - u).max()),
                abs(new_lam - lam),
            )
            m, u, lam = new_m, new_u, new_lam
            if delta <= self.em_convergence:
                break

        for k, comp in enumerate(active):
            session_m = {l: float(m[k, level_index[l]]) for l in levels}
            self._m_sessions[comp.column].append(session_m)
            # combine across sessions by simple mean (Splink averages too)
            sessions = self._m_sessions[comp.column]
            self.params[comp.column].m = {
                l: float(np.mean([s[l] for s in sessions])) for l in levels
            }
            if not fix_u:
                self.params[comp.column].u = {
                    l: float(u[k, level_index[l]]) for l in levels
                }
        self.em_lambda = lam
        return iters

    # ------------------------------------------------------------ predict
    def _score_columns(self, prior: float) -> list:
        prior = min(max(prior, 1e-12), 1 - 1e-12)
        weight = F.lit(math.log2(prior / (1 - prior)))
        for comp in self.comparisons:
            p = self.params[comp.column]
            g = F.col(comp.gamma_name)
            if comp.tf_adjustment:
                # exact-match u replaced by the value's relative frequency
                # (joined on as __tf_<col> by predict); NULL tf (value not
                # in the frequency table) falls back to the global u. Common
                # values (tf > u) intentionally score below the untuned
                # model and rare values above it — Splink tf-adjustment
                # semantics
                tf = F.coalesce(
                    F.col(f"__tf_{comp.column}"),
                    F.lit(max(p.u.get(EXACT_LEVEL, 1e-9), 1e-9)),
                )
                m_exact = F.lit(max(p.m.get(EXACT_LEVEL, 1e-9), 1e-9))
                exact_bf = F.log2(
                    m_exact / F.greatest(tf, F.lit(1e-9))
                )
            else:
                exact_bf = F.lit(math.log2(p.bayes_factor(EXACT_LEVEL)))
            # array lookup, NOT a when()-ladder: a ladder references the
            # gamma column once per level, and when the threshold filter
            # is pushed through the projection each reference inlines the
            # full gamma expression (levenshtein & co.) — measured 3x the
            # per-pair cost. element_at references gamma exactly once.
            # Index = gamma + 2: NULL(-1)->1, ELSE(0)->2, FUZZY(1)->3,
            # EXACT(2)->4 (element_at is 1-based).
            bf = F.element_at(
                F.array(
                    F.lit(0.0),
                    F.lit(math.log2(p.bayes_factor(ELSE_LEVEL))),
                    F.lit(math.log2(p.bayes_factor(FUZZY_LEVEL))),
                    exact_bf,
                ),
                g.cast("int") + F.lit(2),
            )
            weight = weight + bf
        prob = F.lit(1.0) / (F.lit(1.0) + F.pow(F.lit(2.0), -weight))
        return [weight.alias("match_weight"), prob.alias("match_probability")]

    def _attach_term_frequencies(
        self, pairs: DataFrame, df: DataFrame
    ) -> DataFrame:
        """Join per-value relative frequencies for tf-adjusted columns.
        The frequency tables are one groupBy each over the (deduplicated)
        input values — small, broadcast onto the pair table keyed by the
        LEFT value (sides agree when gamma is exact, which is the only
        level that reads the tf column)."""
        n = df.count()
        for comp in self.comparisons:
            if not comp.tf_adjustment:
                continue
            freq = (
                df.groupBy(F.col(comp.column).alias(f"{comp.column}_l"))
                .agg((F.count("*") / F.lit(float(n))).alias(f"__tf_{comp.column}"))
            )
            pairs = pairs.join(F.broadcast(freq), f"{comp.column}_l", "left")
        return pairs

    # ------------------------------------------------------- persistence
    def to_dict(self) -> dict:
        """JSON-serializable model state (settings + trained m/u) — the
        engine's equivalent of the reference's saved Splink model JSON."""
        return {
            "comparisons": [
                {
                    "column": c.column,
                    "method": c.method,
                    "threshold": c.threshold,
                    "tf_adjustment": c.tf_adjustment,
                }
                for c in self.comparisons
            ],
            "blocking_rules": [list(r.columns) for r in self.blocking_rules],
            "unique_id": self.unique_id,
            "prior": self.prior,
            "em_convergence": self.em_convergence,
            "max_block_size": self.max_block_size,
            "params": {
                col: {
                    "m": {str(k): v for k, v in p.m.items()},
                    "u": {str(k): v for k, v in p.u.items()},
                }
                for col, p in self.params.items()
            },
        }

    @classmethod
    def from_dict(cls, state: dict) -> FellegiSunterModel:
        comps = [
            Comparison(
                c["column"],
                c["method"],
                c["threshold"],
                c.get("tf_adjustment", False),
            )
            for c in state["comparisons"]
        ]
        model = cls(
            comps,
            [tuple(r) for r in state["blocking_rules"]],
            unique_id=state.get("unique_id", "unique_id"),
            prior=state.get("prior"),
            em_convergence=state.get("em_convergence", 0.01),
            max_block_size=state.get("max_block_size"),
        )
        for col, p in state["params"].items():
            model.params[col].m = {int(k): v for k, v in p["m"].items()}
            model.params[col].u = {int(k): v for k, v in p["u"].items()}
        return model

    def save(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump(self.to_dict(), f, indent=2)

    @classmethod
    def load(cls, path: str) -> FellegiSunterModel:
        import json

        with open(path) as f:
            return cls.from_dict(json.load(f))

    def predict(
        self,
        df: DataFrame,
        *,
        right_df: DataFrame | None = None,
        threshold: float = 0.0,
    ) -> DataFrame:
        """Pairwise prediction table (L5): blocking joins (disjoint via
        match keys) → gamma ladder → Bayes-factor sum → sigmoid. Pure
        DataFrame; the whole score is one codegen'd projection."""
        n = df.count() if self.prior is None else None
        prior = self.prior if self.prior is not None else 1.0 / max(n, 2)
        pairs = candidate_pairs(
            df, self.blocking_rules, self.comparisons, self.unique_id,
            right_df=right_df, max_block_size=self.max_block_size,
        )
        if any(c.tf_adjustment for c in self.comparisons):
            tf_base = df if right_df is None else df.unionByName(
                right_df.select(*df.columns)
            )
            pairs = self._attach_term_frequencies(pairs, tf_base)
        scored = pairs.select("*", *self._score_columns(prior))
        if threshold > 0.0:
            scored = scored.where(F.col("match_probability") >= threshold)
        return scored
