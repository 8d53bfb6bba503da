"""String-similarity comparisons (reference parity: SURVEY §2.9).

The reference (via Splink 3.9.4) compares each attribute column with one of
three distance functions at a tuned threshold, producing a 3-level
comparison per column: exact match / distance-within-threshold / else
(reference: python/arc/autolinker/autolinker.py:345-358, :448-461).

Spark-first mapping:

- ``levenshtein`` — built-in ``F.levenshtein`` (JVM, codegen'd)
- ``jaccard``     — token/char-ngram set Jaccard via ``array_intersect`` /
  ``array_union`` on split tokens — pure built-ins, no UDF
- ``jaro_winkler``— no Spark built-in; one SQL expression of built-ins
  (``aggregate`` over ``locate``, ``zip_with``), no UDF

Each comparison renders to a ``when()`` ladder producing an integer gamma:
``-1`` null on either side, ``2`` exact, ``1`` within threshold, ``0`` else.
The ladder is a narrow projection over the candidate-pair DataFrame — it
runs in the executor JVM with the join that produced the pairs; no
comparison starts a Python worker.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

NULL_LEVEL = -1
EXACT_LEVEL = 2
FUZZY_LEVEL = 1
ELSE_LEVEL = 0
N_LEVELS = 3  # gamma in {0, 1, 2}; -1 excluded from estimation


def _let(name: str, value: str, body: str) -> str:
    """SQL binding ``name`` to ``value``, evaluated once, in ``body``."""
    return f"transform(array({value}), {name} -> {body})[0]"


# Jaro–Winkler as one Spark SQL expression over the placeholders {l} and
# {r}: higher-order built-ins only, so it runs in the executor JVM with
# no Python worker. DuckDB jaro_winkler_similarity semantics (boost
# threshold 0.7, prefix weight 0.1, at most 4 prefix characters). The
# ``jw_`` prefix keeps lambda variables from shadowing columns.
#
# Each character c of {l} in turn takes the first unmatched c of {r} in
# [i - w, i + w], w = max length div 2 - 1 (the cast keeps INT math).
# The windows only move right, so one character's matches land at
# increasing positions: the first unmatched c in the window is the first
# c at or after the window start and one past c's latest match. The
# state holds matched positions and characters newest first, so instr()
# finds that latest match. jw_m: the matches in {l} order.
_JW_MATCHES = _let(
    "jw_w",
    "greatest(CAST(greatest(length({l}), length({r})) div 2 AS INT) - 1, 0)",
    """reverse(aggregate(sequence(1, length({l})),
    named_struct('m', CAST(array() AS ARRAY<INT>), 's', ''),
    (jw_acc, jw_i) -> """ + _let("jw_c", "substr({l}, jw_i, 1)", _let(
        "jw_j",
        """locate(jw_c, {r}, greatest(jw_i - jw_w, 1, 1 + IF(instr(jw_acc.s, jw_c) > 0,
            element_at(jw_acc.m, instr(jw_acc.s, jw_c)), 0)))""",
        """IF(jw_j > 0 AND jw_j <= jw_i + jw_w, named_struct(
            'm', array_prepend(jw_acc.m, jw_j), 's', concat(jw_c, jw_acc.s)), jw_acc)""",
    )) + ").m)",
)
# Transpositions: half the k where the k-th match in {l} order and in
# {r} order differ. Double literals (a bare 0.7 is DECIMAL) keep each
# step an IEEE double operation, in the textbook formula's order.
_JW_JARO = """(size(jw_m) / length({l}) + size(jw_m) / length({r}) + (size(jw_m)
    - size(filter(zip_with(jw_m, array_sort(jw_m),
        (jw_a, jw_b) -> substr({r}, jw_a, 1) != substr({r}, jw_b, 1)), jw_t -> jw_t)) div 2
    ) / size(jw_m)) / 3.0D"""
_JW_BOOSTED = """CASE WHEN jw_s <= 0.7D THEN jw_s ELSE jw_s
    + size(filter(sequence(1, least(4, length({l}), length({r}))),
        jw_k -> substr({l}, 1, jw_k) = substr({r}, 1, jw_k))) * 0.1D * (1.0D - jw_s) END"""
_JARO_WINKLER_SQL = f"""CASE WHEN {{l}} IS NULL OR {{r}} IS NULL THEN CAST(NULL AS DOUBLE)
    WHEN {{l}} = {{r}} THEN 1.0D WHEN length({{l}}) = 0 OR length({{r}}) = 0 THEN 0.0D
    ELSE {_let("jw_m", _JW_MATCHES, "CASE WHEN size(jw_m) = 0 THEN 0.0D ELSE "
               + _let("jw_s", _JW_JARO, _JW_BOOSTED) + " END")} END"""


def jaro_winkler_sql(left: str, right: str) -> str:
    """Jaro–Winkler similarity of two SQL string expressions as SQL text
    (NULL if either is NULL); ``sqlext`` registers it as arc_jaro_winkler."""
    return _JARO_WINKLER_SQL.format(l=left, r=right)


def jaro_winkler(left: str, right: str) -> Column:
    """Jaro–Winkler similarity of the string columns named ``left`` and
    ``right`` (``alias.column`` allowed, as for ``F.col``)."""
    quoted = [".".join(f"`{p}`" for p in c.split(".")) for c in (left, right)]
    return F.expr(jaro_winkler_sql(*quoted))


def token_jaccard(left: Column, right: Column) -> Column:
    """Set Jaccard similarity of whitespace tokens, using only built-in
    array functions (no UDF). For character n-grams use :func:`ngram_jaccard`."""
    lt = F.array_distinct(F.split(left, r"\s+"))
    rt = F.array_distinct(F.split(right, r"\s+"))
    inter = F.size(F.array_intersect(lt, rt))
    union = F.size(F.array_union(lt, rt))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def char_ngram_set(col: Column | str, n: int = 3) -> Column:
    """Distinct character n-grams of a string column, built-ins only."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
            lambda i: c.substr(i, F.lit(n)),
        )
    )


def ngram_jaccard(left: Column, right: Column, n: int = 3) -> Column:
    """Character n-gram Jaccard similarity — pure built-ins."""
    lg = char_ngram_set(left, n)
    rg = char_ngram_set(right, n)
    inter = F.size(F.array_intersect(lg, rg))
    union = F.size(F.array_union(lg, rg))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# Soundex-style letter→code map (A..Z): vowels/H/W/Y → 0 (separators),
# consonant classes 1-6 as in classic soundex.
PHONETIC_MAP = "01230120022455012623010202"


def phonetic_key(col: Column | str) -> Column:
    """Soundex-style phonetic blocking key, pure built-in expressions.

    Spec (deliberately backreference-free so the identical operation
    chain runs on engines whose regex lacks ``\\1``, e.g. RE2):

    1. uppercase, strip non-letters;
    2. map every letter to its class digit via :data:`PHONETIC_MAP`;
    3. collapse runs of each digit (seven chained ``d+ → d`` replaces —
       equivalent to the classic adjacent-duplicate collapse);
    4. drop the separator zeros;
    5. key = first letter + next three class digits, zero-padded.

    This is classic soundex minus the H/W bridging rule (two letters of
    the same class separated only by H/W still code twice here). As a
    BLOCKING key that difference only splits a handful of candidate
    blocks; it never corrupts scoring, which happens on the raw strings.
    Empty/non-alphabetic input yields the empty string key.
    """
    c = F.col(col) if isinstance(col, str) else col
    letters = F.regexp_replace(F.upper(c), "[^A-Z]", "")
    coded = F.translate(letters, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", PHONETIC_MAP)
    for d in "0123456":
        coded = F.regexp_replace(coded, f"{d}+", d)
    digits = F.replace(coded, F.lit("0"), F.lit(""))
    key = F.concat(
        F.substring(letters, 1, 1), F.rpad(F.substring(digits, 2, 3), 3, "0")
    )
    # NULL propagates (so equi-join blocking drops unkeyed rows instead
    # of clumping them into one mega-block); non-alphabetic input → ''.
    return (
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(F.length(letters) > 0, key)
        .otherwise(F.lit(""))
    )


def phonetic_key_sql(expr: str) -> str:
    """DuckDB twin of :func:`phonetic_key` — same operation chain, kept
    in lockstep for the catalog oracles."""
    letters = f"regexp_replace(upper({expr}), '[^A-Z]', '', 'g')"
    coded = (
        f"translate({letters}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', "
        f"'{PHONETIC_MAP}')"
    )
    for d in "0123456":
        coded = f"regexp_replace({coded}, '{d}+', '{d}', 'g')"
    digits = f"replace({coded}, '0', '')"
    return (
        f"CASE WHEN {expr} IS NULL THEN NULL "
        f"WHEN length({letters}) > 0 THEN "
        f"concat(substr({letters}, 1, 1), rpad(substr({digits}, 2, 3), 3, '0')) "
        f"ELSE '' END"
    )


@dataclass(frozen=True)
class Comparison:
    """One attribute column's 3-level comparison (exact / fuzzy / else).

    ``method`` ∈ {"levenshtein", "jaccard", "jaro_winkler", "exact"};
    thresholds follow the reference's hyperopt space: levenshtein integer
    1-5 (distance ≤ t), jaccard 0.7-0.99 (similarity ≥ t), jaro_winkler
    0.7-0.99 (similarity ≥ t) — autolinker.py:351-353.

    ``tf_adjustment`` enables term-frequency adjustment of the exact-match
    Bayes factor (Splink 3.x semantics, public): agreeing on a RARE value
    ("zyzmalski") is stronger evidence than agreeing on a common one
    ("smith"), so the exact-level u is replaced per-pair by the value's
    observed relative frequency.
    """

    column: str
    method: str = "levenshtein"
    threshold: float = 2.0
    tf_adjustment: bool = False

    @property
    def gamma_name(self) -> str:
        return f"gamma_{self.column}"

    def fuzzy_predicate(self, left: str, right: str) -> Column | None:
        """Within-threshold test on the named columns; None for exact."""
        if self.method == "levenshtein":
            return F.levenshtein(left, right) <= int(self.threshold)
        if self.method == "jaccard":
            return token_jaccard(F.col(left), F.col(right)) >= float(self.threshold)
        if self.method == "jaro_winkler":
            return jaro_winkler(left, right) >= float(self.threshold)
        if self.method == "exact":
            return None
        raise ValueError(f"unknown comparison method {self.method!r}")

    def gamma_expr(self, left_suffix: str = "_l", right_suffix: str = "_r") -> Column:
        """``when()`` ladder producing the gamma level for this column."""
        lname, rname = f"{self.column}{left_suffix}", f"{self.column}{right_suffix}"
        left, right = F.col(lname), F.col(rname)
        ladder = F.when(left.isNull() | right.isNull(), F.lit(NULL_LEVEL)).when(
            left == right, F.lit(EXACT_LEVEL)
        )
        fuzzy = self.fuzzy_predicate(lname, rname)
        if fuzzy is not None:
            ladder = ladder.when(fuzzy, F.lit(FUZZY_LEVEL))
        return ladder.otherwise(F.lit(ELSE_LEVEL)).alias(self.gamma_name)

    @property
    def n_levels(self) -> int:
        return N_LEVELS if self.method != "exact" else 2
