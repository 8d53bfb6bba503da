"""auto_data_linkage_spark — a PySpark-native record-linkage / deduplication
engine with the query and data-processing capabilities of the reference
`databricks-industry-solutions/auto-data-linkage` (ARC), re-expressed
Spark-first.

Layers (see SURVEY.md §7):

- :mod:`~auto_data_linkage_spark.cleaning`   — column standardization (P1–P4)
- :mod:`~auto_data_linkage_spark.profile`    — entropy / count-map / block-stat
  aggregations (A1–A8), pure DataFrame programs replacing the reference's
  Scala ``TypedImperativeAggregate``\\ s
- :mod:`~auto_data_linkage_spark.blocking`   — blocking-rule enumeration and
  join-size estimation *without executing joins* (§3.2)
- :mod:`~auto_data_linkage_spark.compare`    — string-similarity comparison
  levels (levenshtein / jaccard / jaro-winkler, §2.9)
- :mod:`~auto_data_linkage_spark.model`      — Fellegi–Sunter probabilistic
  model: u-estimation, EM m-estimation, pairwise prediction (L2–L5)
- :mod:`~auto_data_linkage_spark.cluster`    — threshold filter + iterative
  connected components (L6)
- :mod:`~auto_data_linkage_spark.metrics`    — information-gain objective and
  supervised pairwise metrics
- :mod:`~auto_data_linkage_spark.autolink`   — the zero-label search loop
  (AutoLinker equivalent)
- :mod:`~auto_data_linkage_spark.operators`  — large-scale training-data
  pipeline operators: dedup family, similarity search, text analysis,
  multimodal plumbing
- :mod:`~auto_data_linkage_spark.streaming`  — Structured Streaming operators
  over event streams, plus continuous linkage (``streaming.linkage``)
- :mod:`~auto_data_linkage_spark.incremental` — fold new record batches into
  an existing clustering with delta-sized work (cluster contraction)

Design stance: pure PySpark, zero JVM code, DataFrame/SQL plans that keep
whole-stage codegen; Pandas UDFs only where built-ins genuinely cannot
express the semantics (corpus text kernels, BPE, the interactive-SQL
``arc_entropy``); Jaro–Winkler is one SQL expression of built-ins
(``compare.jaro_winkler_sql``).
"""

__version__ = "0.1.0"

from auto_data_linkage_spark.autolink import AutoLinker
from auto_data_linkage_spark.blocking import (
    RuleEstimate,
    generate_blocking_rules,
    salted_self_join_pairs,
)
from auto_data_linkage_spark.sqlext import enable_arc
from auto_data_linkage_spark.cleaning import (
    clean_columns,
    ensure_unique_id,
    null_sentinel,
)
from auto_data_linkage_spark.cluster import (
    cluster_at_threshold,
    connected_components,
)
from auto_data_linkage_spark.compare import Comparison
from auto_data_linkage_spark.incremental import (
    Increment,
    apply_increment,
    incremental_assign,
    incremental_components,
)
from auto_data_linkage_spark.linking import align_for_linking, column_correspondence
from auto_data_linkage_spark.metrics import (
    clustering_scores,
    information_gain_power_ratio,
    pairwise_prf,
)
from auto_data_linkage_spark.model import (
    BlockingRule,
    FellegiSunterModel,
    candidate_pairs,
)

__all__ = [
    "AutoLinker",
    "BlockingRule",
    "Comparison",
    "FellegiSunterModel",
    "Increment",
    "RuleEstimate",
    "align_for_linking",
    "apply_increment",
    "candidate_pairs",
    "clean_columns",
    "cluster_at_threshold",
    "clustering_scores",
    "column_correspondence",
    "connected_components",
    "enable_arc",
    "ensure_unique_id",
    "generate_blocking_rules",
    "incremental_assign",
    "incremental_components",
    "information_gain_power_ratio",
    "null_sentinel",
    "pairwise_prf",
    "salted_self_join_pairs",
    "__version__",
]
