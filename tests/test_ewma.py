"""EWMA scan (operators/ewma.py): exact recurrence vs a pure-python
replay, keyed/keyless parity (affine range-partitioned scan + spine
carry), and plan checks (keyless finalize is codegen, scan runs
per-bucket)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mq_to_db_spark.operators.ewma import ewma

ALPHA = 0.3


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _fixture(spark, n=500):
    base = pd.Timestamp("2024-02-01 00:00:00")
    rows = []
    for s in ("a", "b"):
        v = 100.0 if s == "a" else 7.0
        for i in range(n):
            v = (v * 31 + 17 + i) % 997
            rows.append((s, base + pd.Timedelta(minutes=i), i, float(v)))
    pdf = pd.DataFrame(rows, columns=["series", "ts", "sid", "value"])
    return spark.createDataFrame(pdf), pdf


def _replay(values, alpha=ALPHA):
    out, s = [], None
    for x in values:
        s = x if s is None else alpha * x + (1 - alpha) * s
        out.append(round(s, 6))
    return out


def test_keyed_matches_recurrence(spark):
    df, pdf = _fixture(spark)
    out = ewma(df, ["series"], value_col="value", alpha=ALPHA, tiebreak=("sid",))
    rows = sorted(out.collect(), key=lambda r: (r.series, r.ts, r.sid))
    by_series = {}
    for r in rows:
        by_series.setdefault(r.series, []).append(r.ewma)
    for s, g in pdf.groupby("series"):
        want = _replay(g.sort_values(["ts", "sid"]).value.tolist())
        assert by_series[s] == want, s


def test_keyless_matches_keyed(spark):
    """Range-partitioned keyless scan (virtual-zero local scans + spine
    carry recurrence + codegen finalize) equals the single-series keyed
    scan to the 6-decimal contract rounding."""
    df, pdf = _fixture(spark)
    one = df.filter(F.col("series") == "a").drop("series")
    keyless = ewma(one, [], value_col="value", alpha=ALPHA, tiebreak=("sid",), n_buckets=16)
    got = {r.sid: r.ewma for r in keyless.collect()}
    want = dict(
        zip(
            pdf[pdf.series == "a"].sort_values(["ts", "sid"]).sid,
            _replay(pdf[pdf.series == "a"].sort_values(["ts", "sid"]).value.tolist()),
        )
    )
    assert len(got) == len(want)
    bad = [k for k in want if abs(got[k] - want[k]) > 2e-6]
    assert not bad, (len(bad), bad[:5])


def _replay_skipping_nulls(values, alpha=ALPHA):
    """The NULL rule: a NULL reads the average so far (NULL before the
    first value); the next value decays the state by one step."""
    out, s = [], None
    for x in values:
        if x is not None:
            s = x if s is None else alpha * x + (1 - alpha) * s
        out.append(None if s is None else round(s, 6))
    return out


@pytest.mark.parametrize("n_buckets", [1, 2, 8])
def test_keyless_matches_keyed_with_nulls(spark, n_buckets):
    """A NULL first value and every 10th value NULL: the keyless scan
    equals the keyed one under one constant key, and both equal the
    NULL-skipping recurrence."""
    _, pdf = _fixture(spark, n=100)
    pdf = pdf[pdf.series == "a"].drop(columns="series").sort_values(["ts", "sid"])
    values = [None if i % 10 == 0 else v for i, v in enumerate(pdf.value)]
    df = spark.createDataFrame(
        [(r.ts.to_pydatetime(), r.sid, v) for r, v in zip(pdf.itertuples(), values)],
        "ts timestamp, sid long, value double",
    )
    kw = dict(value_col="value", alpha=ALPHA, tiebreak=("sid",), n_buckets=n_buckets)
    keyless = {r.sid: r.ewma for r in ewma(df, [], **kw).collect()}
    keyed = {
        r.sid: r.ewma
        for r in ewma(df.withColumn("k", F.lit(1)), ["k"], **kw).collect()
    }
    want = dict(zip(pdf.sid, _replay_skipping_nulls(values)))
    assert keyed == want
    assert keyless.keys() == want.keys()
    bad = [
        k for k in want
        if (keyless[k] is None) != (want[k] is None)
        or (want[k] is not None and abs(keyless[k] - want[k]) > 2e-6)
    ]
    assert not bad, (len(bad), bad[:5])


def test_keyless_single_row_and_degenerate(spark):
    one = spark.createDataFrame(
        [(pd.Timestamp("2024-01-01 00:00:00").to_pydatetime(), 42.5)],
        "ts timestamp, value double",
    )
    out = ewma(one, [], alpha=ALPHA).collect()
    assert len(out) == 1 and out[0].ewma == 42.5  # s_1 = x_1


def test_alpha_validation(spark):
    df, _ = _fixture(spark, n=4)
    with pytest.raises(ValueError):
        ewma(df, ["series"], alpha=0.0)
    with pytest.raises(ValueError):
        ewma(df, ["series"], alpha=1.5)


def test_keyed_plan_is_grouped_pandas_scan(spark):
    df, _ = _fixture(spark)
    plan = _plan(ewma(df, ["series"], value_col="value", alpha=ALPHA))
    assert "FlatMapGroupsInPandas" in plan, plan


def test_keyless_finalize_is_codegen_broadcast(spark):
    """The keyless finalize must be expression-only over a broadcast
    join of the tiny spine carries — no window, no second scan.  (The
    per-bucket pandas scan itself sits behind the localCheckpoint
    lineage cut, so it shows as the ExistingRDD leaf here; its grouping
    is covered by the keyless/keyed parity test.)"""
    df, _ = _fixture(spark)
    one = df.filter(F.col("series") == "a").drop("series")
    plan = _plan(ewma(one, [], value_col="value", alpha=ALPHA, n_buckets=8))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan


def test_ewma_hypothesis_keyless_parity(spark):
    """Random series: the range-partitioned keyless decomposition equals
    the plain recurrence within the 6-decimal rounding for arbitrary
    lengths, alphas, and bucket counts."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(
            st.floats(min_value=-1e4, max_value=1e4, allow_nan=False),
            min_size=1,
            max_size=120,
        ),
        st.floats(min_value=0.05, max_value=0.95),
        st.integers(min_value=2, max_value=9),
    )
    def check(values, alpha, n_buckets):
        base = pd.Timestamp("2024-01-01")
        pdf = pd.DataFrame(
            {
                "ts": [base + pd.Timedelta(minutes=i) for i in range(len(values))],
                "sid": range(len(values)),
                "value": values,
            }
        )
        df = spark.createDataFrame(pdf)
        out = ewma(
            df, [], value_col="value", alpha=alpha, tiebreak=("sid",),
            n_buckets=n_buckets,
        )
        got = {r.sid: r.ewma for r in out.collect()}
        want = dict(zip(pdf.sid, _replay(values, alpha)))
        assert all(abs(got[k] - want[k]) <= 2e-6 for k in want), (alpha, n_buckets)

    check()


def test_double_ewma_matches_plain_recurrence(spark):
    """s/t recurrences replayed in pure Python; level/trend/forecast
    derived from the unrounded states in the same expression order."""
    import datetime as dt

    xs = [10.0, 14.0, 9.0, 20.0, 20.0, 3.0]
    a = 0.3
    df = spark.createDataFrame(
        [("k", dt.datetime(2024, 1, 1, h), x) for h, x in enumerate(xs)],
        "k string, ts timestamp, value double",
    )
    from mq_to_db_spark.operators.ewma import double_ewma

    got = {
        r["ts"].hour: r
        for r in double_ewma(df, ["k"], alpha=a).collect()
    }
    s = t = None
    for h, x in enumerate(xs):
        s = x if s is None else a * x + (1 - a) * s
        t = s if t is None else a * s + (1 - a) * t
        lvl, trd = 2 * s - t, (a / (1 - a)) * (s - t)
        r = got[h]
        assert r["s_single"] == round(s, 6)
        assert r["s_double"] == round(t, 6)
        assert r["level"] == round(lvl, 6)
        assert r["trend"] == round(trd, 6)
        assert r["forecast_next"] == round(lvl + trd, 6)


def test_double_ewma_trend_tracks_linear_series(spark):
    """On a perfectly linear series the trend estimate converges to the
    true slope and the one-step forecast converges to the next value."""
    import datetime as dt

    df = spark.createDataFrame(
        [("k", dt.datetime(2024, 1, 1) + dt.timedelta(hours=h), 5.0 * h)
         for h in range(200)],
        "k string, ts timestamp, value double",
    )
    from mq_to_db_spark.operators.ewma import double_ewma

    last = (
        double_ewma(df, ["k"], alpha=0.3)
        .orderBy("ts")
        .tail(1)[0]
    )
    assert abs(last["trend"] - 5.0) < 1e-6
    assert abs(last["forecast_next"] - 5.0 * 200) < 1e-5


def test_double_ewma_requires_keys_and_valid_alpha(spark):
    import datetime as dt

    import pytest

    from mq_to_db_spark.operators.ewma import double_ewma

    df = spark.createDataFrame(
        [("k", dt.datetime(2024, 1, 1), 1.0)],
        "k string, ts timestamp, value double",
    )
    with pytest.raises(ValueError, match="keyed-only"):
        double_ewma(df, [])
    with pytest.raises(ValueError, match="alpha"):
        double_ewma(df, ["k"], alpha=1.0)


def test_holt_linear_matches_prometheus_recurrence(spark):
    """Pure-Python replay of prometheus/promql/functions.go
    funcDoubleExponentialSmoothing + calcTrendValue, same op order."""
    import datetime as dt

    from mq_to_db_spark.operators.ewma import holt_linear

    sf, tf = 0.4, 0.2
    xs = [3.0, 7.0, 4.0, 9.0, 12.0, 6.0, 15.0, 14.0]
    rows = [("k", dt.datetime(2024, 1, 1) + dt.timedelta(hours=h), x)
            for h, x in enumerate(xs)]
    got = (
        holt_linear(spark.createDataFrame(rows, "k string, ts timestamp, value double"),
                    ["k"], sf=sf, tf=tf)
        .orderBy("ts")
        .collect()
    )
    # reference replay (Prometheus loop, verbatim structure)
    s0, s1, b = 0.0, xs[0], xs[1] - xs[0]
    want_s, want_b = [xs[0]], [None]
    for i in range(1, len(xs)):
        x = sf * xs[i]
        if i - 1 != 0:
            b = tf * (s1 - s0) + (1 - tf) * b
        y = (1 - sf) * (s1 + b)
        s0, s1 = s1, x + y
        want_s.append(s1)
        want_b.append(b)
    for r, ws, wb in zip(got, want_s, want_b):
        assert r["smoothed"] == round(ws, 6)
        assert r["trend"] == (None if wb is None else round(wb, 6))


def test_holt_linear_short_series_and_validation(spark):
    import datetime as dt

    import pytest

    from mq_to_db_spark.operators.ewma import holt_linear

    one = spark.createDataFrame(
        [("k", dt.datetime(2024, 1, 1), 42.0)], "k string, ts timestamp, value double"
    )
    r = holt_linear(one, ["k"]).collect()[0]
    assert r["smoothed"] == 42.0 and r["trend"] is None
    with pytest.raises(ValueError, match="keyed-only"):
        holt_linear(one, [])
    with pytest.raises(ValueError, match="sf/tf"):
        holt_linear(one, ["k"], sf=1.0)


def test_holt_linear_tracks_linear_series(spark):
    """On y = 5t the trend estimate converges to the true slope."""
    import datetime as dt

    from mq_to_db_spark.operators.ewma import holt_linear

    df = spark.createDataFrame(
        [("k", dt.datetime(2024, 1, 1) + dt.timedelta(hours=h), 5.0 * h)
         for h in range(300)],
        "k string, ts timestamp, value double",
    )
    last = holt_linear(df, ["k"], sf=0.4, tf=0.2).orderBy("ts").tail(1)[0]
    assert abs(last["trend"] - 5.0) < 1e-6
    assert abs(last["smoothed"] - 5.0 * 299) < 1e-4
