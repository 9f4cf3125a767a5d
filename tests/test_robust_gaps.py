"""Semantics of mad_outliers (operators/rolling.py) and gap_stats
(operators/intervals.py) — hand-computable fixtures; the contract
queries add DuckDB hash-exactness."""

import datetime as dt

from pyspark.sql import functions as F

from mq_to_db_spark.operators.intervals import gap_stats
from mq_to_db_spark.operators.rolling import mad_outliers


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), float(v), i)
         for i, (k, s, v) in enumerate(rows)],
        "k string, ts timestamp, value double, rid long",
    )


def test_mad_outliers_picks_order_statistics(spark):
    # values 1..7 plus outlier 1000: n=8, median pick at ceil(8/2)=4 → 4.0
    # deviations |v-4|: 3,2,1,0,1,2,3,996 sorted 0,1,1,2,2,3,3,996 → pick#4 = 2.0
    # outliers: dev > 3*2=6 → only 996 → 1
    vals = [1, 2, 3, 4, 5, 6, 7, 1000]
    df = _df(spark, [("a", i, v) for i, v in enumerate(vals)])
    row = mad_outliers(df, ["k"], tier="1d", k=3.0).first()
    assert row["n_samples"] == 8
    assert row["med"] == 4.0
    assert row["mad"] == 2.0
    assert row["n_outliers"] == 1


def test_mad_outliers_even_n_lower_median(spark):
    # percentile_disc semantics: n=4 → pick at position 2 (lower median)
    df = _df(spark, [("a", i, v) for i, v in enumerate([10, 20, 30, 40])])
    row = mad_outliers(df, ["k"], tier="1d").first()
    assert row["med"] == 20.0


def test_mad_immune_to_outlier_magnitude(spark):
    # the z-score flag breaks here: one huge point inflates stddev;
    # MAD flags it regardless of magnitude
    vals = [5, 5, 5, 5, 5, 5, 5, 10**9]
    df = _df(spark, [("a", i, v) for i, v in enumerate(vals)])
    row = mad_outliers(df, ["k"], tier="1d").first()
    assert row["med"] == 5.0 and row["mad"] == 0.0
    assert row["n_outliers"] == 1  # dev 1e9-5 > 3*0


def test_gap_stats_exact_micros(spark):
    # gaps: 10s, 50s within day 1; day 2's first sample carries the
    # overnight gap (attributed to the bucket that observed it end)
    df = _df(spark, [("a", 0, 1), ("a", 10, 1), ("a", 60, 1),
                     ("a", 86400 + 5, 1)])
    out = {r["bucket_start"].day: r for r in
           gap_stats(df, ["k"], tier="1d", tiebreak=("rid",)).collect()}
    d1, d2 = out[1], out[2]
    assert d1["n_samples"] == 3
    assert d1["max_gap_us"] == 50_000_000
    assert d1["avg_gap_us"] == 30_000_000.0  # (10s+50s)/2
    assert d2["max_gap_us"] == (86400 + 5 - 60) * 1_000_000


def test_gap_stats_first_sample_has_no_gap(spark):
    df = _df(spark, [("a", 0, 1)])
    row = gap_stats(df, ["k"], tier="1d").first()
    assert row["n_samples"] == 1
    assert row["max_gap_us"] is None and row["avg_gap_us"] is None


def test_gap_stats_single_exchange_plan(spark):
    df = _df(spark, [("a", 0, 1), ("b", 5, 2)])
    plan = gap_stats(df, ["k"], tier="1d", tiebreak=("rid",))._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_gap_stats_avg_past_bigint_micro_units_is_null(spark):
    # a 200-day gap is 1.728e13 µs; its micro-unit average (×10⁶) is past
    # 2⁶³, so under ANSI avg_gap_us is NULL, not an abort; max stays exact
    df = _df(spark, [("a", 0, 1), ("a", 200 * 86400, 1)])
    out = {r["bucket_start"].date(): r for r in
           gap_stats(df, ["k"], tier="1d", tiebreak=("rid",)).collect()}
    late = out[dt.date(2024, 7, 19)]
    assert late["n_samples"] == 1
    assert late["max_gap_us"] == 200 * 86400 * 1_000_000
    assert late["avg_gap_us"] is None
    # in-bound buckets keep the exact micro-unit value
    near = _df(spark, [("a", 0, 1), ("a", 100 * 86400, 1)])
    row = gap_stats(near, ["k"], tier="1d", tiebreak=("rid",)).orderBy("bucket_start").collect()[-1]
    assert row["avg_gap_us"] == 100 * 86400 * 1_000_000.0
