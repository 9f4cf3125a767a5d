"""The range-partitioned prefix scan (operators/rangewin.py) against the
single-partition window each of its users stands in for, on data made to
break a carry: tied order values whose tiebreak order differs from the
input order, and NULL values inside buckets and on bucket ends."""

from __future__ import annotations

import re
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mq_to_db_spark.operators.counters import adjust_resets, counter_increase
from mq_to_db_spark.operators.ewma import ewma
from mq_to_db_spark.operators.rangewin import range_running_sums
from tests.test_gapfill import assert_range_locf_matches_ffill_bfill

T0 = pd.Timestamp("2024-03-01")


def _ties_and_end_nulls(spark, n_buckets):
    """200 rows on 41 distinct minutes (about 5 rows per tie), tiebreak
    ``i`` a shuffled id, 10% NULL values, and a NULL on the last row in
    ``(t, i)`` order of every odd bucket (as ``width_bucket`` counts)."""
    rng = np.random.default_rng(11)
    n = 200
    minute = np.sort(rng.integers(0, 41, size=n))
    minute[0], minute[-1] = 0, 40
    v = rng.integers(0, 50, n).astype(float)
    v[rng.random(n) < 0.1] = np.nan
    pdf = pd.DataFrame({"m": minute, "i": rng.permutation(n), "v": v})
    nb = n_buckets or spark.sparkContext.defaultParallelism * 4
    pdf["b"] = np.floor(pdf.m / 40 * nb).astype(int)
    ends = pdf.sort_values(["m", "i"]).groupby("b").tail(1)
    pdf.loc[ends.index[ends.b % 2 == 1], "v"] = np.nan
    pdf["t"] = (T0 + pd.to_timedelta(pdf.m, unit="min")).astype("datetime64[us]")
    return pdf.drop(columns=["m", "b"])


BUCKETS = [1, 2, 7, None]


@pytest.mark.parametrize("n_buckets", BUCKETS)
def test_range_locf_ties_and_bucket_end_nulls(spark, n_buckets):
    pdf = _ties_and_end_nulls(spark, n_buckets)
    assert_range_locf_matches_ffill_bfill(spark, pdf, n_buckets, tiebreak=("i",))


@pytest.mark.parametrize("n_buckets", BUCKETS)
def test_range_scans_match_single_partition_window(spark, n_buckets):
    """Running sums, the keyless counter lag (increase, reset adjustment)
    and the keyless EWMA equal the one-partition window / one-key path."""
    pdf = _ties_and_end_nulls(spark, n_buckets)
    df = spark.createDataFrame(pdf).withColumnRenamed("t", "ts")
    one = df.withColumn("k", F.lit(1))
    upto = W.orderBy("ts", "i").rowsBetween(W.unboundedPreceding, 0)

    def rows(frame, *cols):
        return frame.select("i", *cols).toPandas().set_index("i").sort_index()

    got = rows(range_running_sums(df, "ts", {"s": "v"}, ("i",), n_buckets), "s")
    want = rows(df.withColumn("s", F.sum(F.coalesce("v", F.lit(0.0))).over(upto)), "s")
    pd.testing.assert_frame_equal(got, want)

    kw = dict(value_col="v", tiebreak=("i",), n_buckets=n_buckets)
    got = adjust_resets(df, [], **kw)
    pd.testing.assert_frame_equal(
        rows(got, "adjusted"), rows(adjust_resets(one, ["k"], **kw), "adjusted")
    )
    got = counter_increase(df, [], tier="1h", **kw).toPandas()
    want = counter_increase(one, ["k"], tier="1h", **kw).drop("k").toPandas()
    pd.testing.assert_frame_equal(got, want[got.columns])

    got = ewma(df, [], alpha=0.3, **kw)
    want = ewma(one, ["k"], alpha=0.3, **kw)
    np.testing.assert_allclose(rows(got, "ewma").ewma, rows(want, "ewma").ewma, atol=2e-6)


def test_one_module_builds_range_buckets():
    """``width_bucket(`` and the bucket spine ``range(1, n + 2)`` belong to
    rangewin.py alone: every other keyless scan goes through it."""
    pkg = Path(__file__).resolve().parents[1] / "mq_to_db_spark"
    spine = re.compile(r"range\(1,\s*\w+\s*\+\s*2\)")
    for pattern in (re.compile(r"width_bucket\("), spine):
        users = sorted(
            p.relative_to(pkg).as_posix()
            for p in pkg.rglob("*.py")
            if pattern.search(p.read_text())
        )
        assert users == ["operators/rangewin.py"], (pattern.pattern, users)
