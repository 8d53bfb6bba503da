"""SQL-extension registration (sqlext.enable_arc): the arc_* functions
must be callable from spark.sql text and agree with their DataFrame-API
twins."""

import math

import pytest
from pyspark.sql import functions as F

from auto_data_linkage_spark.sqlext import enable_arc


@pytest.fixture(scope="module", autouse=True)
def _registered(spark):
    enable_arc(spark)
    enable_arc(spark)  # idempotent re-registration must not raise


@pytest.fixture(scope="module")
def strings(spark):
    df = spark.createDataFrame(
        [
            (1, "martha", "marhta"),
            (2, "dwayne", "duane"),
            (3, "hello world foo", "foo world bar"),
            (4, None, "x"),
            (5, "", ""),
        ],
        "id long, a string, b string",
    )
    df.createOrReplaceTempView("sqlext_strings")
    return df


def test_arc_jaro_winkler_matches_udf_twin(spark, strings):
    from auto_data_linkage_spark.compare import jaro_winkler

    got = {
        r["id"]: r["jw"]
        for r in spark.sql(
            "SELECT id, arc_jaro_winkler(a, b) AS jw FROM sqlext_strings"
        ).collect()
    }
    want = {
        r["id"]: r["jw"]
        for r in strings.select(
            "id", jaro_winkler("a", "b").alias("jw")
        ).collect()
    }
    assert got == want
    assert got[1] == pytest.approx(0.9611, abs=1e-3)  # classic JW pair
    assert got[4] is None


def test_arc_token_jaccard_matches_column_twin(spark, strings):
    from auto_data_linkage_spark.compare import token_jaccard

    got = {
        r["id"]: r["j"]
        for r in spark.sql(
            "SELECT id, arc_token_jaccard(a, b) AS j FROM sqlext_strings"
            " WHERE a IS NOT NULL"
        ).collect()
    }
    want = {
        r["id"]: r["j"]
        for r in strings.where(F.col("a").isNotNull())
        .select("id", token_jaccard(F.col("a"), F.col("b")).alias("j"))
        .collect()
    }
    assert got == pytest.approx(want)
    assert got[3] == pytest.approx(2.0 / 4.0)


def test_arc_ngram_jaccard_matches_column_twin(spark, strings):
    from auto_data_linkage_spark.compare import ngram_jaccard

    got = {
        r["id"]: r["j"]
        for r in spark.sql(
            "SELECT id, arc_ngram_jaccard(a, b, 3) AS j FROM sqlext_strings"
            " WHERE a IS NOT NULL"
        ).collect()
    }
    want = {
        r["id"]: r["j"]
        for r in strings.where(F.col("a").isNotNull())
        .select("id", ngram_jaccard(F.col("a"), F.col("b"), 3).alias("j"))
        .collect()
    }
    assert got == pytest.approx(want)


def test_arc_md5_hash64_matches_text_twin(spark, strings):
    from auto_data_linkage_spark.operators.text import md5_hash64

    got = {
        r["id"]: r["h"]
        for r in spark.sql(
            "SELECT id, arc_md5_hash64(a, 3) AS h FROM sqlext_strings"
            " WHERE a IS NOT NULL"
        ).collect()
    }
    want = {
        r["id"]: r["h"]
        for r in strings.where(F.col("a").isNotNull())
        .select("id", md5_hash64(F.col("a"), seed=3).alias("h"))
        .collect()
    }
    assert got == want


def test_arc_entropy_matches_column_entropies(spark):
    from auto_data_linkage_spark.profile import column_entropies

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("c",), ("c",), ("c",), (None,)],
        "v string",
    )
    df.createOrReplaceTempView("sqlext_entropy")
    got = spark.sql(
        "SELECT arc_entropy(v) AS h FROM sqlext_entropy"
    ).collect()[0]["h"]
    # auto base (reference base-0): distinct-count log base, nulls excluded
    want = column_entropies(df.where(F.col("v").isNotNull()), ["v"], base="distinct")["v"]
    assert got == pytest.approx(want)
    # grouped use: per-group entropies, singleton group → 0
    g = spark.createDataFrame(
        [("g1", "x"), ("g1", "y"), ("g2", "z")], "grp string, v string"
    )
    g.createOrReplaceTempView("sqlext_entropy_g")
    rows = {
        r["grp"]: r["h"]
        for r in spark.sql(
            "SELECT grp, arc_entropy(v) AS h FROM sqlext_entropy_g GROUP BY grp"
        ).collect()
    }
    assert rows["g1"] == pytest.approx(1.0)  # two equiprobable values
    assert rows["g2"] == 0.0


def test_sql_udfs_stay_declarative(spark, strings):
    """The SQL-UDF helpers must inline into the plan — no BatchEvalPython
    or ArrowEvalPython node (that is the whole point of registering them
    as declarative SQL functions)."""
    plan = (
        spark.sql(
            "SELECT arc_jaro_winkler(a, b), arc_token_jaccard(a, b),"
            " arc_ngram_jaccard(a, b, 2), arc_md5_hash64(a, 0)"
            " FROM sqlext_strings"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan
