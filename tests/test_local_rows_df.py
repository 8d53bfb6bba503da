"""local_rows_df (Arrow-path driver-local tables) must be a drop-in for
plain-list createDataFrame: identical rows, order, and schema for every
shape the operators feed it — its whole point is changing the EXECUTION
path (JVM-only Arrow batches instead of a pickled Python RDD whose
every consumer stage launches Python workers), never the result."""

import pytest

from auto_data_linkage_spark.session import local_rows_df


def _same(spark, rows, schema):
    a = local_rows_df(spark, rows, schema)
    b = spark.createDataFrame(rows, schema)
    assert a.schema == b.schema, (a.schema, b.schema)
    assert a.collect() == b.collect()


def test_names_schema_strings(spark):
    _same(spark, [("a.com",), ("b.org",)], ["__blocked"])


def test_names_schema_mixed_types(spark):
    _same(spark, [("s0", 0.5), ("s1", 2.0)], ["strata", "__rate"])


def test_names_schema_array_column(spark):
    rows = [(0, [0.0, 1.5]), (1, [2.5, -1.0])]
    _same(spark, rows, ["cell", "centroid"])


def test_ddl_schema_with_null(spark):
    rows = [(3, 2, 0.666667), (0, 0, None)]
    _same(spark, rows, "n_planted long, n_recovered long, recall double")


def test_ddl_schema_int_narrowing(spark):
    rows = [(0, "records", 10), (1, "matches", 3)]
    _same(spark, rows, "stage_idx int, stage string, n long")


def test_empty_rows_fall_back(spark):
    _same(spark, [], "domain string, rank_scaled bigint")


def test_row_order_preserved(spark):
    rows = [(i, f"v{i}") for i in range(100)]
    df = local_rows_df(spark, rows, "i long, v string")
    assert [(r.i, r.v) for r in df.collect()] == rows


def test_no_python_eval_in_plan(spark):
    """The physical plan must not contain a Python scan — the RDD
    backing the relation is built from Arrow batches in the JVM."""
    df = local_rows_df(spark, [("x",)], ["c"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PythonRDD" not in plan


@pytest.mark.parametrize("n", [1, 7])
def test_singleton_and_small(spark, n):
    _same(spark, [(i,) for i in range(n)], "k long")


def test_all_none_column_stays_on_arrow(spark):
    """An all-None column takes its type from the DDL schema and the rows
    still arrive as Arrow batches (a local scan, no Python RDD)."""
    rows = [(1, None), (2, None)]
    _same(spark, rows, "k long, v string")
    df = local_rows_df(spark, rows, "k long, v string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "PythonRDD" not in plan


def test_unconvertible_rows_raise(spark):
    """No silent fallback to the pickle path: a column Arrow cannot
    type raises."""
    import pyarrow as pa

    with pytest.raises(pa.ArrowException):
        local_rows_df(spark, [(1,), ("x",)], ["c"])
