"""SQL-extension registration: make the arc_* helpers callable from
``spark.sql`` text, mirroring the reference's auto-attach surface
(python/arc/sql/enable_arc.py + library_handler.py, which install the
Scala expressions into the session so SQL users get ``arc_entropy_agg``
et al. without touching the Python API).

Spark-first design: everything expressible as an expression is
registered as a **declarative SQL UDF** (``CREATE FUNCTION … RETURN
<expr>``) — the body inlines into the caller's plan, stays inside
Catalyst/WholeStageCodegen, and costs nothing over writing the
expression by hand, Jaro–Winkler included (compare.jaro_winkler_sql).
Only the entropy aggregate uses Python (a grouped-agg pandas UDF).
Registration is per-session and idempotent.
"""

# NOTE: no `from __future__ import annotations` here — postponed (string)
# annotations break pandas-UDF type-hint inference for the entropy
# aggregate defined inside enable_arc (UNSUPPORTED_SIGNATURE).
from pyspark.sql import SparkSession

from auto_data_linkage_spark.compare import jaro_winkler_sql

# SQL UDF bodies. `\\s+` survives the f-string as the SQL regex literal.
# Tokenization mirrors compare.token_jaccard EXACTLY (no lowercasing, no
# empty-token filter) so the registered function is a drop-in twin.
_TOKENS = r"array_distinct(split({c}, '\\s+'))"

_SQL_FUNCTIONS: dict[str, str] = {
    # Jaro–Winkler — twin of compare.jaro_winkler (the same SQL body)
    "arc_jaro_winkler": "(l STRING, r STRING) RETURNS DOUBLE RETURN "
    + jaro_winkler_sql("l", "r"),
    # token-set Jaccard — twin of compare.token_jaccard
    "arc_token_jaccard": f"""
        (l STRING, r STRING) RETURNS DOUBLE RETURN
        CASE WHEN size(array_union({_TOKENS.format(c='l')}, {_TOKENS.format(c='r')})) > 0
             THEN size(array_intersect({_TOKENS.format(c='l')}, {_TOKENS.format(c='r')}))
                  / size(array_union({_TOKENS.format(c='l')}, {_TOKENS.format(c='r')}))
             ELSE 0.0 END
    """,
    # character-n-gram Jaccard — twin of compare.ngram_jaccard
    "arc_ngram_jaccard": """
        (l STRING, r STRING, n INT) RETURNS DOUBLE RETURN
        CASE WHEN size(array_union(
                 array_distinct(transform(sequence(1, greatest(length(l) - (n - 1), 1)),
                                          i -> substr(l, i, n))),
                 array_distinct(transform(sequence(1, greatest(length(r) - (n - 1), 1)),
                                          i -> substr(r, i, n))))) > 0
             THEN size(array_intersect(
                 array_distinct(transform(sequence(1, greatest(length(l) - (n - 1), 1)),
                                          i -> substr(l, i, n))),
                 array_distinct(transform(sequence(1, greatest(length(r) - (n - 1), 1)),
                                          i -> substr(r, i, n)))))
                  / size(array_union(
                 array_distinct(transform(sequence(1, greatest(length(l) - (n - 1), 1)),
                                          i -> substr(l, i, n))),
                 array_distinct(transform(sequence(1, greatest(length(r) - (n - 1), 1)),
                                          i -> substr(r, i, n)))))
             ELSE 0.0 END
    """,
    # portable 60-bit hash — twin of operators.text.md5_hash64 (and of the
    # DuckDB oracle form CAST(CONCAT('0x', SUBSTR(md5(..),1,15)) AS BIGINT))
    "arc_md5_hash64": """
        (s STRING, seed INT) RETURNS BIGINT RETURN
        CAST(conv(substring(md5(concat(cast(seed AS STRING), '|', s)), 1, 15),
                  16, 10) AS BIGINT)
    """,
}


def enable_arc(spark: SparkSession) -> None:
    """Register the arc_* SQL surface on ``spark``: after this call,
    ``spark.sql`` text can use

    - ``arc_entropy(col)`` — grouped-agg Shannon entropy in the
      reference's base-0/auto mode (log base = the group's distinct
      count, so values land in [0, 1]; singleton/empty groups → 0),
    - ``arc_jaro_winkler(l, r)`` (DuckDB ``jaro_winkler_similarity``
      semantics) / ``arc_token_jaccard(l, r)`` /
      ``arc_ngram_jaccard(l, r, n)`` / ``arc_md5_hash64(s, seed)`` —
      declarative SQL UDFs that inline into the caller's plan (no
      Python).

    Temporary functions are session-scoped; on a shared cluster register
    once per session (idempotent — CREATE OR REPLACE).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    # arc_entropy is an Arrow-batched grouped-agg pandas UDF — the right
    # tool for INTERACTIVE SQL text, but each group's values ship to
    # Python. Heavy/pipelined callers should use the pure-DataFrame
    # equivalents (profile.column_entropies / profile.entropy_df with
    # base="distinct"): identical semantics, one shuffle, entirely
    # JVM-side in whole-stage codegen.
    @F.pandas_udf("double")
    def _arc_entropy(v: pd.Series) -> float:
        counts = v.dropna().value_counts()
        n = int(counts.sum())
        if n == 0 or len(counts) <= 1:
            return 0.0
        p = counts / n
        nats = float(-(p * np.log(p)).sum())
        return nats / float(np.log(len(counts)))

    spark.udf.register("arc_entropy", _arc_entropy)

    for name, body in _SQL_FUNCTIONS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name} {body}")
