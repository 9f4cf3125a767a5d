"""The contract harness (tools/contract.py): dtype classes come from the
Spark schema and the DuckDB relation, floats match in a band or bit for
bit, and one query's failure never stops the walk.  All but the last
test run on small frames and typed stubs, with no Spark session."""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import DoubleType, LongType, StructField, StructType, TimestampType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.contract import check_all, compare, duck_class, run, spark_class  # noqa: E402


def _oracle(sql: str) -> tuple[pd.DataFrame, dict[str, str]]:
    rel = duckdb.sql(sql)
    return rel.df(), {c: duck_class(t) for c, t in zip(rel.columns, rel.types)}


@pytest.mark.parametrize(
    "sql, spark_type",
    [
        ("SELECT CAST(7 AS HUGEINT) AS x", LongType()),
        ("SELECT sum(CAST(7 AS BIGINT)) AS x", LongType()),  # DuckDB widens to HUGEINT
        ("SELECT CAST(0.301030 AS DECIMAL(18,6)) AS x", DoubleType()),
        ("SELECT 0.30102999566398120 AS x", DoubleType()),  # bare literal is DECIMAL
    ],
)
def test_hugeint_and_decimal_oracle_columns_fail(sql, spark_type):
    want, want_classes = _oracle(sql)
    got = pd.DataFrame({"x": want["x"].astype("float64")})
    errs = compare(got, {"x": spark_class(spark_type)}, want, want_classes)
    assert len(errs) == 1 and errs[0].startswith("types x ")


@pytest.mark.parametrize(
    "sql, spark_type, got_col",
    [
        ("SELECT CAST(1 AS DOUBLE) AS x", LongType(), [1]),
        ("SELECT CAST(1 AS BIGINT) AS x", DoubleType(), [1.0]),
    ],
)
def test_bigint_against_double_fails(sql, spark_type, got_col):
    want, want_classes = _oracle(sql)
    errs = compare(pd.DataFrame({"x": got_col}), {"x": spark_class(spark_type)}, want, want_classes)
    assert len(errs) == 1 and errs[0].startswith("types x ")


def test_nullable_integer_column_passes():
    # what toPandas hands back for a LongType column holding a NULL
    got = pd.DataFrame({"n": [3.0, np.nan, 1.0]})
    assert got["n"].dtype == np.float64
    want, want_classes = _oracle(
        "SELECT CAST(n AS BIGINT) AS n FROM (VALUES (1), (NULL), (3)) t(n)"
    )
    assert compare(got, {"n": spark_class(LongType())}, want, want_classes) == []
    # ... and a wrong integer still fails: no float band for int columns
    got.loc[0, "n"] = 4.0
    assert compare(got, {"n": "int"}, want, want_classes)


def test_date_and_timestamp_share_a_class():
    want, want_classes = _oracle("SELECT DATE '2024-03-01' AS d")
    got = pd.DataFrame({"d": pd.to_datetime(["2024-03-01"])})
    assert compare(got, {"d": spark_class(TimestampType())}, want, want_classes) == []


def test_one_ulp_passes_values_fails_strict():
    want, want_classes = _oracle("SELECT CAST(0.1 AS DOUBLE) AS v")
    got = pd.DataFrame({"v": [np.nextafter(0.1, 1.0)]})
    classes = {"v": spark_class(DoubleType())}
    assert compare(got, classes, want, want_classes) == []
    errs = compare(got, classes, want, want_classes, strict=True)
    assert len(errs) == 1 and errs[0].startswith("col v: 1 mismatches")


class _Stub:
    """The two members of a Spark DataFrame the harness reads."""

    def __init__(self, pdf: pd.DataFrame, schema: StructType):
        self._pdf, self.schema = pdf, schema

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


def _query(_spark, _sf_dir):
    return _Stub(pd.DataFrame({"n": [1]}), StructType([StructField("n", LongType())]))


def _broken_query(_spark, _sf_dir):
    raise RuntimeError("boom")


def test_failures_are_isolated_per_query():
    qs = {
        "oracle_raises": _query,
        "oracle_lacks_column": _query,
        "spark_raises": _broken_query,
        "no_oracle": _query,
        "good": _query,
    }
    oracles = {
        "oracle_raises": "SELECT n FROM no_such_table",
        "oracle_lacks_column": "SELECT CAST(1 AS BIGINT) AS other",
        "spark_raises": "SELECT CAST(1 AS BIGINT) AS n",
        "good": "SELECT CAST(1 AS BIGINT) AS n",
    }
    with duckdb.connect() as con:
        res = check_all(qs, oracles, None, "", con)
    assert list(res) == list(qs)
    assert res["oracle_raises"]["err"].startswith("oracle: ")
    assert res["oracle_lacks_column"]["err"].startswith("columns ")
    assert res["spark_raises"]["err"] == "spark: boom"
    assert res["no_oracle"]["err"] == "no oracle"
    assert [n for n, r in res.items() if r["exact"]] == ["good"]


def test_harness_end_to_end(spark):
    import bench

    sf_dir = os.path.join(os.path.dirname(bench.SF_DIR.rstrip("/")), "sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no contract testdata at {sf_dir}")
    only = "rollup_1h_value_stats,counter_adjust"
    snap = run(sf_dir, "values", only, spark=spark)
    assert snap["n_queries"] == 2 and snap["n_failed"] == 0, snap["queries"]
    assert snap["entry"]["rows"] > 0

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    plan = run(sf_dir, "plan", only, spark=spark)
    assert plan["n_failed"] == 0 and plan["queries"]["counter_adjust"]["exchanges"] >= 1
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
