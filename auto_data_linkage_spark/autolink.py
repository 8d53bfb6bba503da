"""AutoLinker — the zero-label search loop (reference parity:
``arc.autolinker.AutoLinker.auto_link``, autolinker.py:688-847).

The reference wraps Hyperopt TPE around (blocking rule × per-column distance
function × threshold) and scores each trial with the unsupervised
information-gain power ratio. Hyperopt is sequential-in-driver there too
(no SparkTrials); this implementation drives the SAME search with the
dependency-free TPE in :mod:`auto_data_linkage_spark.tpe` (random
startup trials, then l/g Parzen sampling per dimension with hyperopt's
conditional-dimension rule) — identical space, identical per-trial cost.

Search pipeline (all Spark work). Once per search: clean → unique_id →
candidate blocking rules (estimated, never joined). Per trial, each phase
one Spark query: u-estimation → EM over every arm of the training rule
(one contingency aggregate) → predict (every candidate pair, no
threshold) → cluster at ``cluster_threshold`` → score (one
information-gain collect). The best trial's predictions and clustering
are kept, not recomputed: they become ``best_predictions`` and the
memoized clustering at ``cluster_threshold``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auto_data_linkage_spark import blocking as blocking_mod
from auto_data_linkage_spark.cleaning import (
    clean_columns,
    ensure_unique_id,
    null_sentinel,
    string_columns,
)
from auto_data_linkage_spark.cluster import cluster_at_threshold
from auto_data_linkage_spark.compare import Comparison
from auto_data_linkage_spark.metrics import (
    information_gain_power_ratio,
    pairwise_prf,
)
from auto_data_linkage_spark.model import BlockingRule, FellegiSunterModel

# reference hyperopt space (autolinker.py:345-358)
_DISTANCE_SPACE = (
    ("levenshtein", (1, 2, 3, 4, 5)),
    ("jaccard", (0.7, 0.99)),
    ("jaro_winkler", (0.7, 0.99)),
)


@dataclass
class Trial:
    comparisons: list[Comparison]
    rule: blocking_mod.RuleEstimate
    score: float = float("nan")
    metrics: dict[str, Any] = field(default_factory=dict)
    model: FellegiSunterModel | None = None


class AutoLinker:
    """Unsupervised auto-linking: search comparison configs × blocking
    rules, train a Fellegi–Sunter model per trial, keep the best by the
    information-gain power ratio.

    ``auto_link(data=df)`` → dedup mode; ``auto_link(data=[df1, df2])`` →
    link mode (reference autolinker.py:688-702).
    """

    def __init__(
        self,
        *,
        comparison_size_limit: int = 100_000,
        max_evals: int = 5,
        cluster_threshold: float = 0.8,
        true_label: str | None = None,
        unique_id: str = "unique_id",
        random_seed: int = 42,
        attribute_columns: list[str] | None = None,
        sampler: str = "tpe",
    ):
        if sampler not in ("tpe", "random"):
            raise ValueError(f"sampler must be 'tpe' or 'random', got {sampler!r}")
        # "random" keeps the sampler in its startup (pure-random) phase
        # for every trial — the A/B control arm for TPE trial-efficiency
        # evidence (tools/tpe_ab.py; reference searches with hyperopt TPE,
        # autolinker.py:818-825)
        self.sampler = sampler
        self.comparison_size_limit = comparison_size_limit
        self.max_evals = max_evals
        self.cluster_threshold = cluster_threshold
        self.true_label = true_label
        self.unique_id = unique_id
        self.random_seed = random_seed
        self.attribute_columns = attribute_columns
        # the scale guard, decided at auto_link time from n (see
        # _resolve_guards); introspectable after the run
        self.resolved_max_block_size: int | None = None
        self.resolved_total_pairs_guard: int | None = None
        self.trials: list[Trial] = []
        self._link_frames: tuple[DataFrame, DataFrame] | None = None
        self.best_trial: Trial | None = None
        self.best_predictions: DataFrame | None = None
        self.clean_data: DataFrame | None = None
        self._cluster_cache: dict[float, DataFrame] = {}

    # ------------------------------------------------------------ helpers
    def _resolve_guards(self, n: int) -> tuple[int | None, int | None]:
        """The scale guard for an ``n``-row search, as
        ``(max_block_size, total_pairs_guard)``.

        It is on exactly when the rule estimate is sampled
        (:func:`blocking.estimate_is_sampled`). Below the sample both are
        None and the search is the reference's. Above it the trimmed
        sample extrapolation is measured to under-cost hot-block rules by
        10²–10³× (SCALE.md "AutoLinker E2E at 150k rows"), so:

        - ``total_pairs_guard = comparison_size_limit`` — the untrimmed
          Σcnt² rule gate :func:`blocking.generate_blocking_rules`
          applies, in the trimmed gate's units;
        - ``max_block_size = ⌈√comparison_size_limit⌉`` — every trial
          model keeps at most that many rows per block, so one block
          contributes at most cap² ≈ the entire pair budget, bounding
          blowup even for rules both estimators mis-cost.
        """
        if not blocking_mod.estimate_is_sampled(n):
            return None, None
        limit = self.comparison_size_limit
        cap = int(math.isqrt(limit - 1)) + 1 if limit > 0 else None
        return cap, limit

    def _infer_attributes(self, df: DataFrame) -> list[str]:
        """All string columns minus id/label (reference autolinker.py:1022-1040)."""
        skip = {self.unique_id, self.true_label, "__src"}
        cols = [c for c in string_columns(df) if c not in skip]
        if not cols:
            raise ValueError("no string attribute columns to link on")
        return cols

    def _build_space(self, attrs: list[str], n_rules: int) -> dict:
        """The reference's hyperopt space (autolinker.py:338-364):
        ``hp.choice`` over candidate blocking rules, and per column a
        distance-function choice with a conditional threshold —
        ``hp.quniform(1, 5, 1)`` for levenshtein, ``hp.uniform(0.7,
        0.99)`` otherwise."""
        from auto_data_linkage_spark.tpe import Categorical, QUniform, Uniform

        space: dict = {"rule": Categorical(tuple(range(n_rules)))}
        for col in attrs:
            space[f"{col}|dist"] = Categorical(
                tuple(name for name, _ in _DISTANCE_SPACE)
            )
            space[f"{col}|levenshtein"] = QUniform(1, 5, 1)
            space[f"{col}|jaccard"] = Uniform(0.7, 0.99)
            space[f"{col}|jaro_winkler"] = Uniform(0.7, 0.99)
        return space

    @staticmethod
    def _params_to_comparisons(
        params: dict, attrs: list[str]
    ) -> tuple[list[Comparison], dict]:
        """Decode a TPE suggestion into comparisons + the ACTIVE subset of
        parameters (hyperopt's conditionality: only the chosen distance
        function's threshold dimension learns from this trial)."""
        comps, active = [], {"rule": params["rule"]}
        for col in attrs:
            fn = params[f"{col}|dist"]
            thr = round(float(params[f"{col}|{fn}"]), 3)
            comps.append(Comparison(col, fn, thr))
            active[f"{col}|dist"] = fn
            active[f"{col}|{fn}"] = thr
        return comps, active

    # --------------------------------------------------------------- run
    def auto_link(self, data: DataFrame | list[DataFrame]) -> Trial:
        """Dedup mode (one DataFrame) or link mode (two DataFrames;
        reference autolinker.py:688-730). Link mode with mismatched
        schemas infers the column correspondence first (J2,
        autolinker.py:961-1020) and only generates cross-table pairs
        (link_only semantics)."""
        from auto_data_linkage_spark.cleaning import string_columns as _sc
        from auto_data_linkage_spark.linking import align_for_linking

        link_mode = isinstance(data, (list, tuple))
        self._link_frames: tuple[DataFrame, DataFrame] | None = None
        if link_mode:
            if len(data) != 2:
                raise ValueError("link mode takes exactly two DataFrames")
            left, right = data
            exclude = tuple(
                c for c in (self.unique_id, self.true_label) if c
            )
            if set(_sc(left)) - set(exclude) != set(_sc(right)) - set(exclude):
                left, right, _ = align_for_linking(
                    left, right, exclude=exclude
                )
            common = [c for c in left.columns if c in set(right.columns)]
            # source-tagged ids so the two tables' rows can't collide
            left = left.select(*common).withColumn(
                "__src", F.lit("l")
            )
            right = right.select(*common).withColumn("__src", F.lit("r"))
            df = left.unionByName(right)
        else:
            df = data

        attrs = self.attribute_columns or self._infer_attributes(df)
        self._attrs = attrs
        keep = attrs + ([self.true_label] if self.true_label else [])
        keep += ["__src"] if link_mode else []
        df = ensure_unique_id(df.select(*keep, *(
            [self.unique_id] if self.unique_id in df.columns else []
        )), self.unique_id)
        if link_mode:
            df = df.withColumn(
                self.unique_id, F.concat("__src", F.lit("-"), self.unique_id)
            )
        df = null_sentinel(clean_columns(df, attrs), attrs)
        df = df.cache()
        self.clean_data = df
        if link_mode:
            self._link_frames = (
                df.where(F.col("__src") == "l"),
                df.where(F.col("__src") == "r"),
            )

        # one job materializes the cache and yields every scalar the
        # search needs: n for the scale guard and each trial's u sample,
        # the prior's frame size (the left table in link mode), and the
        # information-gain log base u — the max distinct count of any
        # attribute column (autolinker.py:596-602), constant across trials
        n, n_left, *distinct = df.agg(
            F.count("*"),
            F.count(F.when(F.col("__src") == "l", 1)) if link_mode else F.lit(0),
            *[F.countDistinct(c) for c in attrs],
        ).first()
        self._base_u = max(*distinct, 2)
        # the one place the prior is decided: 1/N of the frame predict
        # counts, pinned on every trial model, so search, best
        # predictions and incremental folds all score with the same value
        self._prior = 1.0 / max(n_left if link_mode else n, 2)
        (
            self.resolved_max_block_size,
            self.resolved_total_pairs_guard,
        ) = self._resolve_guards(n)
        rules = blocking_mod.generate_blocking_rules(
            df,
            attrs,
            comparison_size_limit=self.comparison_size_limit,
            seed=self.random_seed,
        )
        if not rules:
            raise ValueError(
                "no blocking rule fits the comparison_size_limit budget"
            )
        training_rule = blocking_mod.deterministic_rule(rules)

        from auto_data_linkage_spark.tpe import TPESampler

        best_score = float("-inf")
        # sequential TPE over the reference's space. Startup budget follows
        # hyperopt's default shape scaled to small eval counts: ~2/3 of the
        # budget explores randomly before the Parzen model kicks in.
        n_startup = (
            self.max_evals + 1  # never leaves the random phase
            if self.sampler == "random"
            else min(20, max(2, (2 * self.max_evals + 2) // 3))
        )
        sampler = TPESampler(
            self._build_space(attrs, len(rules)),
            seed=self.random_seed,
            n_startup=n_startup,
        )
        for _ in range(self.max_evals):
            params = sampler.suggest()
            comps, active = self._params_to_comparisons(params, attrs)
            rule = rules[params["rule"]]
            trial, frames = self._run_trial(
                df, n, attrs, comps, rule, training_rule
            )
            sampler.observe(active, trial.score)
            self.trials.append(trial)
            if trial.score > best_score:
                best_score = trial.score
                self.best_trial = trial
                # only the best-so-far trial's frames are held
                best_frames = frames
        assert self.best_trial is not None
        # the winning trial already predicted every pair and clustered at
        # cluster_threshold: reuse both instead of running them again
        predictions, clusters = best_frames
        self.best_predictions = predictions.cache()
        self._cluster_cache = {self.cluster_threshold: clusters}
        return self.best_trial

    def _predict(self, model: FellegiSunterModel) -> DataFrame:
        """Every candidate pair, scored: cross-table pairs in link mode,
        within-table otherwise."""
        if self._link_frames is not None:
            left, right = self._link_frames
            return model.predict(left, right_df=right)
        return model.predict(self.clean_data)

    def _run_trial(
        self,
        df: DataFrame,
        n: int,
        attrs: list[str],
        comps: list[Comparison],
        rule: blocking_mod.RuleEstimate,
        training_rule: blocking_mod.RuleEstimate | None,
    ) -> tuple[Trial, tuple[DataFrame, DataFrame]]:
        """One trial: train, predict, cluster and score. Returns the
        trial and its ``(predictions, clusters)``."""
        model = FellegiSunterModel(
            comps,
            rule.to_blocking_rules(),
            unique_id=self.unique_id,
            max_block_size=self.resolved_max_block_size,
            prior=self._prior,
        )
        model.estimate_u(df, target_pairs=100_000, seed=self.random_seed, n=n)
        if training_rule is not None:
            model.estimate_m_em(df, *training_rule.to_blocking_rules())
        predictions = self._predict(model)
        clusters = cluster_at_threshold(
            df, predictions, self.cluster_threshold, self.unique_id
        )
        um = information_gain_power_ratio(
            df, clusters, attrs, self.unique_id, base_u=self._base_u
        )
        trial = Trial(
            comparisons=comps,
            rule=rule,
            score=um.information_gain_power_ratio,
            model=model,
            metrics={
                "scaled_gain": um.scaled_gain,
                "adjusted_gain": um.adjusted_gain,
            },
        )
        if self.true_label and self.true_label in df.columns:
            trial.metrics.update(pairwise_prf(clusters, self.true_label))
        return trial, (predictions, clusters)

    # ------------------------------------------------- incremental fold
    def incremental_update(
        self,
        new_records: DataFrame,
        threshold: float = 0.8,
        *,
        side: str | None = None,
    ):
        """Fold a batch of new records into the best model's clustering at
        ``threshold`` with delta-sized work (:mod:`incremental` —
        the base table never self-joins again).

        The batch is cleaned with the same pipeline as ``auto_link`` and
        must carry a ``unique_id`` column that does not collide with the
        base ids. Returns the :class:`~auto_data_linkage_spark.incremental.
        Increment`; the engine's state (clean data, memoized clustering at
        ``threshold``) is advanced to include the batch, so repeated calls
        keep folding.

        In link mode pass ``side`` (``"l"`` or ``"r"``): the batch joins
        that table, its ids get the side prefix, and — link_only
        semantics — candidate pairs form ONLY against the opposite
        table's records (no batch↔batch pass; same-table rows never
        pair). Batches for both sides fold as two calls: the second
        call's cross-pairs against the first batch are found because the
        first batch is already part of the base by then.
        """
        from auto_data_linkage_spark.incremental import (
            apply_increment,
            incremental_assign,
            require_new_ids,
        )

        if self.best_trial is None or self.clean_data is None:
            raise RuntimeError("call auto_link first")
        link_mode = self._link_frames is not None
        if link_mode and side not in ("l", "r"):
            raise ValueError(
                'link mode: pass side="l" or side="r" to say which table '
                "the batch extends"
            )
        if not link_mode and side is not None:
            raise ValueError("side is only meaningful in link mode")
        if self.unique_id not in new_records.columns:
            raise ValueError(
                f"new_records must carry a non-colliding {self.unique_id!r} "
                "column (auto-generated ids could collide with the base)"
            )
        attrs = self._attrs
        batch = new_records.select(
            self.unique_id,
            *[c for c in attrs if c in new_records.columns],
            *(
                [self.true_label]
                if self.true_label and self.true_label in new_records.columns
                else []
            ),
        )
        batch = null_sentinel(clean_columns(batch, attrs), attrs)
        if link_mode:
            # same namespacing as auto_link: side-prefixed string ids and
            # the source tag the link frames filter on
            batch = batch.withColumn(
                self.unique_id,
                F.concat(F.lit(side), F.lit("-"), F.col(self.unique_id)),
            ).withColumn("__src", F.lit(side))
        for col in self.clean_data.columns:
            if col not in batch.columns:
                batch = batch.withColumn(
                    col, F.lit(None).cast(self.clean_data.schema[col].dataType)
                )
        batch = batch.select(*self.clean_data.columns).cache()
        # a colliding id would contract to a cluster super-node and
        # silently come back as a bogus singleton
        require_new_ids(batch, self.clean_data, unique_id=self.unique_id)

        # the model's prior was pinned by auto_link, so folds score with
        # the prior the base clustering used, whatever the batch size
        model = self.best_trial.model
        base = self.best_clusters_at_threshold(threshold)
        if link_mode:
            # link_only: the batch may pair only with the OPPOSITE table;
            # the contraction still sees every base assignment
            other = "r" if side == "l" else "l"
            inc = incremental_assign(
                model,
                base,
                batch,
                threshold=threshold,
                unique_id=self.unique_id,
                score_base=self.clean_data.where(F.col("__src") == other),
                within_batch=False,
            )
        else:
            inc = incremental_assign(
                model, base, batch, threshold=threshold, unique_id=self.unique_id
            )
        merged = apply_increment(
            base, batch, inc, unique_id=self.unique_id
        ).localCheckpoint(eager=True)

        # ids keep their native type (batch uid was selected as-is, so the
        # union does not coerce)
        self.clean_data = self.clean_data.unionByName(batch).cache()
        if link_mode:
            self._link_frames = (
                self.clean_data.where(F.col("__src") == "l"),
                self.clean_data.where(F.col("__src") == "r"),
            )
        # predictions/clusterings other than `threshold` predate the batch
        self.best_predictions = None
        self._cluster_cache = {threshold: merged}
        return inc

    # ------------------------------------------------------------ output
    def best_clusters_at_threshold(self, threshold: float = 0.8) -> DataFrame:
        """Memoized clustering of the best model's predictions (reference
        autolinker.py:1069-1094). The clustering at ``cluster_threshold``
        is the winning trial's own, kept by ``auto_link``, so asking for
        it runs no Spark job until its rows are read; other thresholds
        cluster ``best_predictions``."""
        if self.best_trial is None or self.clean_data is None:
            raise RuntimeError("call auto_link first")
        if threshold not in self._cluster_cache:
            if self.best_predictions is None:
                # re-predict over the current data (incremental_update
                # advances clean_data past the cached predictions)
                self.best_predictions = self._predict(
                    self.best_trial.model
                ).cache()
            self._cluster_cache[threshold] = cluster_at_threshold(
                self.clean_data, self.best_predictions, threshold, self.unique_id
            )
        return self._cluster_cache[threshold]

    def cluster_viewer(self, path: str, threshold: float = 0.8) -> str:
        """Write the cluster-inspection HTML dashboard (reference
        ``cluster_viewer``, autolinker.py:1097-1120 — size-band cluster
        sampling) to ``path``; returns the path."""
        from auto_data_linkage_spark.viz import cluster_viewer as _cv

        return _cv(
            self.best_clusters_at_threshold(threshold),
            path,
            unique_id=self.unique_id,
        )

    def comparison_viewer(self, path: str) -> str:
        """Write the comparison-inspection HTML dashboard (reference
        ``comparison_viewer``, autolinker.py:1123-1140 — score histogram
        + strongest/weakest pairs) to ``path``; returns the path."""
        from auto_data_linkage_spark.viz import comparison_viewer as _cmp

        if self.best_trial is None or self.clean_data is None:
            raise RuntimeError("call auto_link first")
        if self.best_predictions is None:
            self.best_predictions = self._predict(self.best_trial.model).cache()
        return _cmp(self.best_predictions, path)

    def get_scores_df(self) -> DataFrame:
        """Pairwise predictions of the best model. When a ``true_label``
        was configured, both sides' labels are joined on as
        ``{label}_l`` / ``{label}_r`` (reference ``get_scores_df``,
        autolinker.py:1155-1162)."""
        if self.best_trial is None or self.clean_data is None:
            raise RuntimeError("call auto_link first")
        if self.best_predictions is None:
            self.best_predictions = self._predict(self.best_trial.model).cache()
        scores = self.best_predictions
        if self.true_label and self.true_label in self.clean_data.columns:
            labels = self.clean_data.select(self.unique_id, self.true_label)
            for side in ("l", "r"):
                scores = scores.join(
                    F.broadcast(
                        labels.select(
                            F.col(self.unique_id).alias(f"{self.unique_id}_{side}"),
                            F.col(self.true_label).alias(f"{self.true_label}_{side}"),
                        )
                    ),
                    f"{self.unique_id}_{side}",
                    "left",
                )
        return scores
