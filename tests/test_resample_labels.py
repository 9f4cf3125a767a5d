"""Grid resampling (LOCF / linear) + label utilities vs pandas oracles."""

from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from mq_to_db_spark.operators.labels import count_values, label_join, label_replace
from mq_to_db_spark.operators.resample import resample_interpolate, resample_locf
from tests.conftest import assert_pdf_equal

T0 = datetime(2025, 1, 1, 0, 0)


def _series(spark):
    # irregular samples, two series
    rows = []
    for key, pts in {
        "a": [(0.5, 10.0), (2.2, 20.0), (2.8, 14.0), (7.0, 0.0)],
        "b": [(1.0, 5.0), (9.5, 105.0)],
    }.items():
        for m, v in pts:
            rows.append((key, T0 + timedelta(minutes=m), v))
    return spark.createDataFrame(rows, "k string, ts timestamp, value double")


def test_locf_matches_pandas_asof(spark):
    df = _series(spark)
    got = resample_locf(df, "1 minute", ["k"]).toPandas()
    pdf = df.toPandas()
    outs = []
    for k, g in pdf.groupby("k"):
        g = g.sort_values("ts")
        grid = pd.date_range(
            g["ts"].min().floor("min"), g["ts"].max().floor("min"), freq="min"
        )
        m = pd.merge_asof(
            pd.DataFrame({"grid_ts": grid}),
            g.rename(columns={"ts": "sample_ts"}),
            left_on="grid_ts",
            right_on="sample_ts",
        )
        m["k"] = k
        outs.append(m[["k", "grid_ts", "value", "sample_ts"]])
    want = pd.concat(outs, ignore_index=True)
    assert_pdf_equal(got, want, ["k", "grid_ts"])


def test_locf_lookback_marks_stale_null(spark):
    df = _series(spark)
    got = resample_locf(df, "1 minute", ["k"], lookback="2 minutes").toPandas()
    b5 = got[(got["k"] == "b") & (got["grid_ts"] == T0 + timedelta(minutes=5))]
    assert b5["value"].isna().all()
    b1 = got[(got["k"] == "b") & (got["grid_ts"] == T0 + timedelta(minutes=1))]
    assert (b1["value"] == 5.0).all()


def test_interpolate_known_values(spark):
    df = _series(spark)
    got = resample_interpolate(df, "1 minute", ["k"]).toPandas()
    vals = {
        (r["k"], r["grid_ts"]): r["value"] for _, r in got.iterrows()
    }
    # series a: samples at 0.5→10, 2.2→20, 2.8→14, 7.0→0
    assert vals[("a", T0)] is None or np.isnan(vals[("a", T0)])  # before first
    # t=1.0: between (0.5,10) and (2.2,20): 10 + 10*(0.5/1.7)
    assert abs(vals[("a", T0 + timedelta(minutes=1))] - (10 + 10 * (0.5 / 1.7))) < 1e-9
    # t=2.0 between same pair
    assert abs(vals[("a", T0 + timedelta(minutes=2))] - (10 + 10 * (1.5 / 1.7))) < 1e-9
    # t=3.0 between (2.8,14) and (7.0,0): 14 - 14*(0.2/4.2)
    assert abs(vals[("a", T0 + timedelta(minutes=3))] - (14 - 14 * (0.2 / 4.2))) < 1e-9
    # t=7.0 exactly at a sample
    assert vals[("a", T0 + timedelta(minutes=7))] == 0.0
    # series b tail: LOCF after last? b's grid ends at 9.0 (floor) which is
    # between samples (1.0, 5) and (9.5, 105): linear
    assert abs(vals[("b", T0 + timedelta(minutes=9))] - (5 + 100 * (8.0 / 8.5))) < 1e-9


def test_interpolate_at_sample_reads_sample(spark):
    df = _series(spark)
    got = resample_interpolate(df, "1 minute", ["k"]).toPandas()
    b1 = got[(got["k"] == "b") & (got["grid_ts"] == T0 + timedelta(minutes=1))]
    assert (b1["value"] == 5.0).all()


# ------------------------------------------------------------ labels


def test_label_replace_full_match_and_miss(spark):
    df = spark.createDataFrame(
        [("api-us-east-1", "x"), ("worker", "y"), (None, "z")],
        "job string, dst string",
    )
    got = label_replace(
        df, "dst", "$1", "job", r"api-(us-[a-z]+-\d)"
    ).toPandas().set_index("job", drop=False)
    assert got.loc["api-us-east-1", "dst"] == "us-east-1"
    assert got.loc["worker", "dst"] == "y"  # miss → untouched
    assert got[got["job"].isna()]["dst"].iloc[0] == "z"


def test_label_replace_new_column_and_bad_regex(spark):
    df = spark.createDataFrame([("a",)], "job string")
    got = label_replace(df, "region", "r-$1", "job", r"(a)").toPandas()
    assert got["region"].iloc[0] == "r-a"
    with pytest.raises(Exception):
        label_replace(df, "region", "x", "job", r"(unclosed")


def test_label_join_and_count_values(spark):
    df = spark.createDataFrame(
        [("u1", "click", 2.0), ("u2", "click", 2.0), ("u3", "view", 3.5)],
        "user string, et string, value double",
    )
    j = label_join(df, "series", "/", "et", "user").toPandas()
    assert set(j["series"]) == {"click/u1", "click/u2", "view/u3"}
    cv = count_values(df, "v", "value").toPandas().set_index("v")
    assert cv.loc["2", "n"] == 2  # integral double prints bare
    assert cv.loc["3.5", "n"] == 1


# ------------------------------------------------------------ over_time_grid


def test_over_time_grid_matches_pandas_window_replay(spark):
    """Every emitted (series, instant) must equal a brute-force pandas
    evaluation of the PromQL (t − range, t] window — all six aggregates,
    and no extra instants (empty windows are absent)."""
    from mq_to_db_spark.operators.resample import over_time_grid

    rng = pd.date_range("2024-03-01 00:03:00", periods=40, freq="7min")
    pdf = pd.DataFrame(
        {
            "series": ["a"] * 25 + ["b"] * 15,
            "ts": list(rng[:25]) + list(rng[:15]),
            "sid": range(40),
            "value": [(i * 37) % 100 for i in range(40)],
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "value", F.col("value").cast("long")
    )
    out = over_time_grid(
        df, ["series"], range_s=1800, step_s=600, tiebreak=("sid",)
    )
    got = {
        (r.series, r.grid_ts): (
            r.n_samples, r.sum_v, r.avg_v, r.min_v, r.max_v, r.last_v
        )
        for r in out.collect()
    }
    want = {}
    lo = pdf["ts"].min().floor("10min")
    hi = pdf["ts"].max().ceil("10min") + pd.Timedelta(minutes=30)
    for s, g in pdf.groupby("series"):
        for t in pd.date_range(lo, hi, freq="10min"):
            w = g[(g["ts"] > t - pd.Timedelta(seconds=1800)) & (g["ts"] <= t)]
            if len(w):
                last = w.sort_values(["ts", "sid"]).iloc[-1]["value"]
                want[(s, t.to_pydatetime())] = (
                    len(w), w["value"].sum(), w["value"].sum() / len(w),
                    w["value"].min(), w["value"].max(), last,
                )
    assert got == want


def test_over_time_grid_boundary_semantics(spark):
    """PromQL left-open window: a sample AT the instant is included; a
    sample exactly range before it is excluded."""
    from mq_to_db_spark.operators.resample import over_time_grid

    pdf = pd.DataFrame(
        {
            "ts": [
                pd.Timestamp("2024-01-01 00:00:00"),  # == t - range for t=01:00
                pd.Timestamp("2024-01-01 01:00:00"),  # == instant t
            ],
            "sid": [0, 1],
            "value": [100, 7],
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "value", F.col("value").cast("long")
    )
    out = over_time_grid(df, [], range_s=3600, step_s=3600, tiebreak=("sid",))
    rows = {r.grid_ts: r for r in out.collect()}
    t = pd.Timestamp("2024-01-01 01:00:00").to_pydatetime()
    assert rows[t].n_samples == 1 and rows[t].sum_v == 7  # 00:00 excluded
    t0 = pd.Timestamp("2024-01-01 00:00:00").to_pydatetime()
    assert rows[t0].n_samples == 1 and rows[t0].sum_v == 100  # at-instant in


def test_over_time_grid_step_exceeding_range_raises(spark):
    from mq_to_db_spark.operators.resample import over_time_grid

    df = spark.range(1).select(
        F.lit("2024-01-01").cast("timestamp").alias("ts"),
        F.lit(1).alias("value"),
    )
    try:
        over_time_grid(df, [], range_s=60, step_s=600)
    except ValueError as e:
        assert "exceeds range" in str(e)
    else:
        raise AssertionError("step > range must raise")


def test_over_time_grid_plan_one_exchange_no_window(spark):
    """Bounded explode is narrow; the whole operator is ONE hash-agg
    exchange — no window function, no cartesian/broadcast NLJ."""
    from mq_to_db_spark.operators.resample import over_time_grid

    pdf = pd.DataFrame(
        {
            "series": ["a", "b"] * 10,
            "ts": pd.date_range("2024-01-01", periods=20, freq="3min"),
            "sid": range(20),
            "value": range(20),
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "value", F.col("value").cast("long")
    )
    out = over_time_grid(df, ["series"], range_s=1800, step_s=600, tiebreak=("sid",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan and "Cartesian" not in plan, plan


def test_over_time_grid_quantiles_match_pandas(spark):
    """quantile_over_time: exact R-7 interpolated percentiles per
    sliding window — pandas' linear interpolation is the same rule."""
    from mq_to_db_spark.operators.resample import over_time_grid

    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-03-01 00:02:00", periods=30, freq="4min"),
            "sid": range(30),
            "value": [(i * 53) % 41 for i in range(30)],
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "value", F.col("value").cast("long")
    )
    out = over_time_grid(
        df, [], range_s=1800, step_s=600, tiebreak=("sid",),
        quantiles=(0.5, 0.9),
    )
    got = {r.grid_ts: (r.p50, r.p90) for r in out.collect()}
    assert got  # non-empty
    for t, (p50, p90) in got.items():
        w = pdf[
            (pdf["ts"] > pd.Timestamp(t) - pd.Timedelta(seconds=1800))
            & (pdf["ts"] <= pd.Timestamp(t))
        ]["value"]
        # pandas interpolates a + (b-a)*f, Spark (like DuckDB
        # quantile_cont) in a different op order — equal to within one
        # ulp; the contract query rounds to 6 dp where they coincide
        assert abs(p50 - w.quantile(0.5, interpolation="linear")) < 1e-9, t
        assert abs(p90 - w.quantile(0.9, interpolation="linear")) < 1e-9, t
