"""AutoLinker E2E scale probe (SCALE.md evidence, VERDICT r13 ask #7).

The full unsupervised `auto_link` search was previously only measured
at 15,445 rows (37.5 s, r12). This runs the identical end-to-end path
— attribute inference, blocking-rule generation under the pair budget,
per-trial u-estimation + EM + predict + cluster + info-gain scoring,
TPE across trials — on an sf-scaled FEBRL-style table (~150k rows by
default, ~10x the prior probe), then scores the winning model's
clusters against the planted entities. Prints ONE JSON line:
rows, trials, wall seconds, and pairwise P/R/F1.

The linker is constructed with CLASS DEFAULTS. Past the 10k-row
estimation sample the search switches on its one scale guard on its
own: an untrimmed Σcnt² rule gate at comparison_size_limit and a
per-block cap of ⌈√comparison_size_limit⌉ rows; the JSON reports both
resolved values. SCALE.md "AutoLinker E2E at 150k rows" records why it
exists: the reference rule estimator is a TRIMMED avg-k² heuristic
scaled quadratically from a 10k sample, and at this scale it admits
rules whose true pair count is orders of magnitude over the budget
(an unguarded run pinned 8 tasks at >1000 s CPU each inside the gamma
projection of hot blocks).

Usage: python tools/autolink_scale.py [n_entities] [n_trials] [seed]
(defaults 107000 / 3 / 42 -> ~150k rows with dup_fraction=0.4).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from auto_data_linkage_spark.autolink import AutoLinker
from auto_data_linkage_spark.metrics import pairwise_prf
from auto_data_linkage_spark.session import get_spark
from tests.febrl_fixture import SCHEMA, make_people


def main():
    argv = sys.argv[1:]
    n_entities = int(argv[0]) if len(argv) > 0 else 107_000
    n_trials = int(argv[1]) if len(argv) > 1 else 3
    seed = int(argv[2]) if len(argv) > 2 else 42

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    spark = get_spark("autolink-scale", cpus=cpus)
    people = spark.createDataFrame(
        make_people(n_entities, dup_fraction=0.4, seed=seed), SCHEMA
    ).localCheckpoint(eager=True)  # generation cost off the clock
    n_rows = people.count()

    # pair budget scaled with the table: the generator's blocking rules
    # must fit comparison_size_limit; at ~150k rows the tightest single
    # attributes (date_of_birth ~20k values, postcode ~7.2k) estimate
    # at 1-3M pairs, so 5M keeps the same rule shapes the 15k probe had.
    # The scale guard resolves to a rule gate at the budget and a
    # per-block cap of ⌈√budget⌉ = 2,237 rows, because n > the 10k
    # estimation sample.
    linker = AutoLinker(
        comparison_size_limit=5_000_000,
        max_evals=n_trials,
        true_label="recid",
        random_seed=seed,
    )
    t0 = time.time()
    linker.auto_link(people.drop("unique_id"))
    clusters = linker.best_clusters_at_threshold(0.8)
    prf = pairwise_prf(clusters, "recid")
    elapsed = time.time() - t0

    print(
        json.dumps(
            {
                "metric": "autolink_e2e",
                "rows": int(n_rows),
                "trials": n_trials,
                "sec": round(elapsed, 1),
                "precision": round(prf["precision"], 4),
                "recall": round(prf["recall"], 4),
                "f1": round(prf["f1"], 4),
                "max_block_size": linker.resolved_max_block_size,
                "total_pairs_guard": linker.resolved_total_pairs_guard,
                "cpus": cpus,
            }
        )
    )


if __name__ == "__main__":
    main()
