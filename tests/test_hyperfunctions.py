"""Hyperfunction operators: time-weighted average, state durations,
concurrency sweep-line, cross-series correlation, and the
range-partitioned running sum they build on.

Each test computes the expected answer independently (pandas / brute
force) on hand-built frames — the engine-independent-oracle pattern the
rest of the suite uses.
"""

from __future__ import annotations

import datetime as dt
import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mq_to_db_spark.operators.concurrency import concurrency_at_grid, sweepline_counts
from mq_to_db_spark.operators.correlate import bucketed_pair_series, series_corr
from mq_to_db_spark.operators.rangewin import range_running_sum
from mq_to_db_spark.operators.timeweight import state_durations, time_weighted_avg

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ts(minute: float) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minute)


# ---------------------------------------------------------------- running sum


def test_range_running_sum_matches_global_window(spark):
    pdf = pd.DataFrame(
        {
            "t": [float(x) for x in [5, 1, 9, 3, 7, 2, 8, 4, 6, 0]],
            "v": [1, -1, 2, 0, -3, 5, 1, -2, 4, 3],
        }
    )
    df = spark.createDataFrame(pdf)
    got = (
        range_running_sum(df, "t", "v", out_col="rs", n_buckets=4)
        .orderBy("t")
        .toPandas()
    )
    want = pdf.sort_values("t").v.cumsum().tolist()
    assert got.rs.tolist() == want


def test_range_running_sum_no_single_partition_window(spark):
    df = spark.range(100).select(
        F.col("id").cast("double").alias("t"), F.lit(1).alias("v")
    )
    plan = (
        range_running_sum(df, "t", "v", n_buckets=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the sweep must not funnel all rows through one window partition:
    # every window spec in the plan is keyed by the range bucket
    for line in plan.splitlines():
        if "Window" in line and "running_sum" in line:
            assert "_rb" in line, line


# ------------------------------------------------------------- time-weighted


def test_time_weighted_avg_holds_values_to_next_sample(spark):
    # one key, one hour bucket: v=10 for 15 min, v=20 for 45 min
    rows = [("k", _ts(0), 10.0, 1), ("k", _ts(15), 20.0, 2)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double, i int")
    out = time_weighted_avg(df, ["key"], "ts", "value", "1 hour", tiebreak=["i"])
    r = out.first()
    assert r.n_samples == 2
    assert r.twa == pytest.approx((10 * 15 + 20 * 45) / 60.0)


def test_time_weighted_avg_single_and_duplicate_samples(spark):
    rows = [
        ("solo", _ts(30), 7.0, 1),  # holds 30 min → twa = 7 exactly
        ("dup", _ts(10), 1.0, 1),  # zero weight (same ts, lower tiebreak)
        ("dup", _ts(10), 3.0, 2),  # holds the remaining 50 min
    ]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double, i int")
    out = {
        r.key: r
        for r in time_weighted_avg(
            df, ["key"], "ts", "value", "1 hour", tiebreak=["i"]
        ).collect()
    }
    assert out["solo"].twa == pytest.approx(7.0)
    assert out["dup"].twa == pytest.approx(3.0)
    assert out["dup"].n_samples == 2


def test_time_weighted_avg_buckets_are_independent(spark):
    # same key, two buckets: no carry of hour-0's last value into hour 1
    rows = [("k", _ts(0), 100.0, 1), ("k", _ts(90), 1.0, 2)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double, i int")
    out = (
        time_weighted_avg(df, ["key"], "ts", "value", "1 hour", tiebreak=["i"])
        .orderBy("bucket_start")
        .collect()
    )
    assert [r.twa for r in out] == [pytest.approx(100.0), pytest.approx(1.0)]


# ------------------------------------------------------------ state durations


def test_state_durations_excludes_open_state(spark):
    rows = [
        (1, _ts(0), "a", 1),
        (1, _ts(10), "b", 2),
        (1, _ts(40), "a", 3),  # open-ended: excluded
        (2, _ts(5), "a", 4),
        (2, _ts(65), "b", 5),  # open-ended: excluded
    ]
    df = spark.createDataFrame(rows, "uid int, ts timestamp, state string, i int")
    out = {
        r.state: r
        for r in state_durations(
            df, "uid", "ts", "state", tiebreak=["i"], bucket=None
        ).collect()
    }
    # state a: user1 0→10 (600 s) + user2 5→65 (3600 s); state b: 10→40 (1800 s)
    assert out["a"].n_entries == 2
    assert out["a"].duration_sec == pytest.approx(4200.0)
    assert out["b"].duration_sec == pytest.approx(1800.0)


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_time_weight_buckets_keep_ts_type_and_drop_null_ts(spark, ts_type):
    """Bucket starts are the tumbling step of the input's own timestamp
    type; a NULL-ts sample holds no time and opens no bucket."""
    rows = [("k", _ts(70), 1.0, 1), ("k", _ts(100), 3.0, 2), ("k", None, 5.0, 3)]
    df = spark.createDataFrame(rows, "key string, ts timestamp, value double, i int")
    df = df.withColumn("ts", F.col("ts").cast(ts_type))
    twa = time_weighted_avg(df, ["key"], "ts", "value", "1 hour", tiebreak=["i"])
    dur = state_durations(df, "key", "ts", "key", tiebreak=["i"], bucket="1 day")
    for out in (twa, dur):
        assert out.schema["bucket_start"].dataType.typeName() == df.schema["ts"].dataType.typeName()
    (r,) = twa.collect()
    assert (r.bucket_start, r.n_samples) == (_ts(60), 2)
    assert r.twa == pytest.approx((1.0 * 30 + 3.0 * 20) / 50.0)
    assert [(r.bucket_start, r.duration_sec) for r in dur.collect()] == [(T0, 1800.0)]


def test_state_durations_bucketed_by_start(spark):
    # state entered at 23:50 day 0, next event 00:10 day 1 → all 20 min on day 0
    rows = [(1, _ts(23 * 60 + 50), "x", 1), (1, _ts(24 * 60 + 10), "y", 2)]
    df = spark.createDataFrame(rows, "uid int, ts timestamp, state string, i int")
    out = state_durations(df, "uid", "ts", "state", tiebreak=["i"], bucket="1 day").collect()
    assert len(out) == 1
    assert out[0].state == "x"
    assert out[0].bucket_start == T0
    assert out[0].duration_sec == pytest.approx(1200.0)


# -------------------------------------------------------------- sweep line


def _brute_concurrency(intervals, instants):
    return [
        sum(1 for s, e in intervals if s <= g <= e) for g in instants
    ]


def test_sweepline_matches_brute_force(spark):
    intervals = [
        (_ts(0), _ts(30)),
        (_ts(10), _ts(20)),
        (_ts(20), _ts(50)),
        (_ts(45), _ts(45)),  # zero-length interval
        (_ts(100), _ts(130)),
    ]
    df = spark.createDataFrame(intervals, "start_ts timestamp, end_ts timestamp")
    grid_instants = [_ts(m) for m in range(0, 140, 5)]
    grid = spark.createDataFrame([(g,) for g in grid_instants], "grid_ts timestamp")
    got = (
        concurrency_at_grid(df, grid, n_buckets=4)
        .orderBy("grid_ts")
        .toPandas()
    )
    assert got.active.tolist() == _brute_concurrency(intervals, grid_instants)


def test_sweepline_end_inclusive_and_drops_invalid(spark):
    intervals = [
        (_ts(0), _ts(10)),
        (_ts(10), _ts(5)),  # end < start: dropped
        (None, _ts(10)),  # NULL: dropped
    ]
    df = spark.createDataFrame(intervals, "start_ts timestamp, end_ts timestamp")
    curve = sweepline_counts(df).orderBy("t").collect()
    # boundaries: +1 at 0, -1 at 10+1µs → active exactly at t=10 still 1
    assert [(r.t, r.active) for r in curve] == [
        (_ts(0), 1),
        (_ts(10) + dt.timedelta(microseconds=1), 0),
    ]


# -------------------------------------------------------------- correlation


def test_series_corr_matches_pandas(spark):
    rows = []
    # two days of hourly pairs with a known relationship + noise-free check
    for d in range(2):
        for h in range(24):
            a = (h * 7 + d * 3) % 11
            b = 2 * a + (1 if d else 0)  # perfectly correlated within a day
            rows.append((dt.datetime(2024, 1, 1 + d, h), a, b))
    pair = spark.createDataFrame(rows, "bucket_start timestamp, a long, b long")
    out = series_corr(pair, "day").orderBy("group_start").collect()
    assert [r.n_buckets for r in out] == [24, 24]
    for r in out:
        assert r.corr_ab == pytest.approx(1.0)


def test_series_corr_constant_series_is_null(spark):
    rows = [(dt.datetime(2024, 1, 1, h), 5, h) for h in range(4)]
    pair = spark.createDataFrame(rows, "bucket_start timestamp, a long, b long")
    out = series_corr(pair, "day").collect()
    assert out[0].corr_ab is None


def test_bucketed_pair_series_zero_fills_gaps(spark):
    # events only in hours 0 and 3 → hours 1, 2 must appear as (0, 0)
    rows = [
        (_ts(5), "x"),
        (_ts(10), "y"),
        (_ts(185), "x"),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, kind string")
    pair = bucketed_pair_series(
        df,
        "ts",
        "1h",
        F.count_if(F.col("kind") == "x"),
        F.count_if(F.col("kind") == "y"),
    )
    got = pair.orderBy("bucket_start").toPandas()
    assert len(got) == 4
    assert got.a.tolist() == [1, 0, 0, 1]
    assert got.b.tolist() == [1, 0, 0, 0]


def test_series_corr_agrees_with_pandas_float(spark):
    # sanity on non-integer series: moment formula vs pandas corr
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [
        (dt.datetime(2024, 1, 1, h), float(rng.rand()), float(rng.rand()))
        for h in range(24)
    ]
    pair = spark.createDataFrame(rows, "bucket_start timestamp, a double, b double")
    got = series_corr(pair, "day").first().corr_ab
    pdf = pd.DataFrame(rows, columns=["t", "a", "b"])
    assert got == pytest.approx(pdf.a.corr(pdf.b), rel=1e-9)


# ---------------------------------------------------------------- properties


def test_range_running_sum_hypothesis(spark):
    """Random value sequences with duplicate order keys: the
    range-partitioned prefix sum equals pandas cumsum under the same
    (t, i) total order, for any bucket count."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=30),  # order key, dups likely
                st.integers(min_value=-100, max_value=100),
            ),
            min_size=1,
            max_size=80,
        ),
        st.integers(min_value=1, max_value=12),
    )
    def check(pairs, n_buckets):
        pdf = pd.DataFrame(
            {
                "t": [float(t) for t, _ in pairs],
                "i": range(len(pairs)),
                "v": [v for _, v in pairs],
            }
        )
        df = spark.createDataFrame(pdf)
        got = (
            range_running_sum(df, "t", "v", tiebreak=("i",), out_col="rs", n_buckets=n_buckets)
            .orderBy("t", "i")
            .toPandas()
        )
        want = pdf.sort_values(["t", "i"]).v.cumsum().tolist()
        assert got.rs.tolist() == want

    check()


def test_sweepline_hypothesis_matches_brute(spark):
    """Random interval sets (zero-length, nested, duplicated, touching):
    sweep-line concurrency at random grid instants equals the brute
    interval-overlap count."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=500),
                st.integers(min_value=0, max_value=120),
            ),
            min_size=1,
            max_size=40,
        ),
        st.lists(st.integers(min_value=0, max_value=700), min_size=1, max_size=25),
        st.integers(min_value=2, max_value=8),
    )
    def check(raw, instants, n_buckets):
        intervals = [(_ts(s), _ts(s + d)) for s, d in raw]
        df = spark.createDataFrame(intervals, "start_ts timestamp, end_ts timestamp")
        grid_instants = sorted({_ts(m) for m in instants})
        grid = spark.createDataFrame(
            [(g,) for g in grid_instants], "grid_ts timestamp"
        )
        got = (
            concurrency_at_grid(df, grid, n_buckets=n_buckets)
            .orderBy("grid_ts")
            .toPandas()
        )
        assert got.active.tolist() == _brute_concurrency(intervals, grid_instants)

    check()
