import random

import duckdb
import pytest
from jw_reference import jaro_winkler as reference_jw
from pyspark.sql import functions as F

from auto_data_linkage_spark.compare import (
    Comparison,
    jaro_winkler,
    ngram_jaccard,
    token_jaccard,
)
from auto_data_linkage_spark.session import local_rows_df


def _kernel(spark, pairs):
    """compare.jaro_winkler over ``pairs`` in one DataFrame, in order."""
    df = local_rows_df(
        spark, [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i long, a string, b string",
    )
    rows = df.select("i", jaro_winkler("a", "b").alias("jw")).collect()
    return [r.jw for r in sorted(rows, key=lambda r: r.i)]


def _seeded_pairs(n_each: int = 1000, seed: int = 20240) -> list:
    """Pairs covering empty, single-character, equal, long (over 20
    characters), prefix-sharing and non-ASCII strings, plus near-miss
    typo pairs that reach the Winkler boost."""
    rnd = random.Random(seed)
    alphabets = ("ab", "abcdef", "abcdefghijklmnopqrstuvwxyz", "aeéüß漢字😀")

    def word(lo, hi, alpha=None):
        alpha = alpha or rnd.choice(alphabets)
        return "".join(rnd.choice(alpha) for _ in range(rnd.randint(lo, hi)))

    def typo(s):
        if not s:
            return word(1, 2)
        i = rnd.randrange(len(s))
        op = rnd.randrange(4)
        if op == 0 and len(s) > 1:  # transpose
            i = min(i, len(s) - 2)
            return s[:i] + s[i + 1] + s[i] + s[i + 2:]
        if op == 1:  # delete
            return s[:i] + s[i + 1:]
        if op == 2:  # insert
            return s[:i] + rnd.choice("xyzé") + s[i:]
        return s[:i] + rnd.choice("xyzé") + s[i + 1:]  # substitute

    pairs = []
    for _ in range(n_each):
        pairs.append((word(0, 12), word(0, 12)))  # random, empties included
        pairs.append((word(1, 1, "abc"), word(1, 1, "abc")))  # single chars
        s = word(0, 30)
        pairs.append((s, s))  # equal
        pairs.append((word(21, 40), word(21, 40)))  # long
        p = word(1, 6)
        pairs.append((p + word(0, 10), p + word(0, 10)))  # shared prefix
        s = word(3, 25)
        pairs.append((s, typo(s)))  # near miss
    return pairs


def test_jaro_winkler_pure_python_known_values():
    # classic textbook values
    assert reference_jw("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-4)
    assert reference_jw("DWAYNE", "DUANE") == pytest.approx(0.84, abs=1e-2)
    assert reference_jw("abc", "abc") == 1.0
    assert reference_jw("abc", "xyz") == 0.0
    assert reference_jw("", "") == 1.0


def test_jaro_winkler_kernel_equals_reference(spark):
    """The JVM kernel equals the pure-Python reference bit for bit."""
    pairs = _seeded_pairs()
    assert len(pairs) >= 5000
    assert any(a == "" for a, _ in pairs) and any(len(a) > 20 for a, _ in pairs)
    assert any(ord(c) > 0xFFFF for a, _ in pairs for c in a)
    got = _kernel(spark, pairs)
    bad = [
        (a, b, g, reference_jw(a, b))
        for (a, b), g in zip(pairs, got)
        if g != reference_jw(a, b)
    ]
    assert not bad, bad[:10]
    assert sum(0.7 < g < 1.0 for g in got) > 500  # the boost branch ran


def test_jaro_winkler_matches_duckdb(spark):
    """DuckDB ships jaro_winkler_similarity — cross-validate the kernel
    against it on a spread of realistic strings (same 0.7 boost
    threshold)."""
    pairs = [
        ("martha", "marhta"), ("dwayne", "duane"), ("smith", "smyth"),
        ("crate", "trace"), ("lachlan", "lachlam"), ("", "abc"),
        ("jellyfish", "smellyfish"), ("a", "a"), ("ab", "ba"),
    ]
    con = duckdb.connect()
    for (a, b), got in zip(pairs, _kernel(spark, pairs)):
        expected = con.execute(
            "select jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert got == pytest.approx(expected, abs=1e-9), (a, b)


def test_jaro_winkler_kernel_nulls(spark):
    df = spark.createDataFrame(
        [("martha", "marhta"), (None, "x")], "a string, b string"
    )
    rows = df.select(jaro_winkler("a", "b").alias("jw")).collect()
    assert rows[0]["jw"] == pytest.approx(0.9611, abs=1e-4)
    assert rows[1]["jw"] is None


def test_token_jaccard(spark):
    df = spark.createDataFrame([("big red dog", "big blue dog")], "a string, b string")
    val = df.select(token_jaccard(F.col("a"), F.col("b")).alias("j")).collect()[0]["j"]
    assert val == pytest.approx(2 / 4)


def test_ngram_jaccard_identical_and_disjoint(spark):
    df = spark.createDataFrame([("abcd", "abcd"), ("abcd", "wxyz")], "a string, b string")
    vals = [
        r["j"]
        for r in df.select(ngram_jaccard(F.col("a"), F.col("b"), 2).alias("j")).collect()
    ]
    assert vals[0] == pytest.approx(1.0)
    assert vals[1] == pytest.approx(0.0)


def test_gamma_levels(spark):
    df = spark.createDataFrame(
        [
            ("smith", "smith"),   # exact -> 2
            ("smith", "smyth"),   # lev 1 -> 1
            ("smith", "jones"),   # far -> 0
            (None, "smith"),      # null -> -1
        ],
        "name_l string, name_r string",
    )
    comp = Comparison("name", "levenshtein", 2)
    got = [r[comp.gamma_name] for r in df.select(comp.gamma_expr()).collect()]
    assert got == [2, 1, 0, -1]


def test_gamma_exact_method(spark):
    df = spark.createDataFrame([("a", "a"), ("a", "b")], "c_l string, c_r string")
    comp = Comparison("c", "exact", 0)
    got = [r[comp.gamma_name] for r in df.select(comp.gamma_expr()).collect()]
    assert got == [2, 0]


def test_phonetic_key_known_values(spark):
    from auto_data_linkage_spark.compare import phonetic_key

    cases = [
        ("Robert", "R163"),
        ("Rupert", "R163"),      # classic soundex collision
        ("Ashcraft", "A261"),    # no H/W bridge in this spec (vs A226/A261 variants)
        ("honeyman", "H550"),
        ("", ""),
        ("123", ""),             # non-alphabetic -> empty key
        (None, None),            # NULL propagates (drops out of equi-joins)
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    got = [r.k for r in df.select(phonetic_key("s").alias("k")).collect()]
    assert got == [want for _, want in cases]


def test_phonetic_key_sql_twin_parity(spark):
    import duckdb

    from auto_data_linkage_spark.compare import phonetic_key, phonetic_key_sql

    samples = [
        "Robert", "Tymczak", "Pfister", "Washington DC", "goldenrod",
        "lavender", "x", "LLAMA", "aeiou", "",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    sp = [r.k for r in df.select(phonetic_key("s").alias("k")).collect()]
    con = duckdb.connect()
    dk = [
        con.execute("SELECT " + phonetic_key_sql(f"'{s}'")).fetchone()[0]
        for s in samples
    ]
    assert sp == dk
