"""Gap-fill vs hand-built expected grids (SURVEY.md §5 point 2, C9)."""

import pandas as pd

from mq_to_db_spark.operators.gapfill import gapfill, gapfill_interpolate_last
from mq_to_db_spark.operators.rollup import rollup_from_raw
from tests.conftest import assert_pdf_equal


def test_gapfill_zero_policy_fills_dead_hours(spark, transcripts, transcripts_pdf):
    r = rollup_from_raw(transcripts, "1h")
    filled = gapfill(r, "1h").toPandas()
    # the generator's dead hours (03-05 UTC) must now exist with n_turns=0
    dead = filled[filled.bucket_start.dt.hour.isin([3, 4, 5])]
    assert len(dead) > 0
    assert (dead.n_turns == 0).all()
    assert dead.text_len_min.isna().all()  # stats stay null under "zero"
    # observed buckets unchanged
    obs = filled[filled.n_turns > 0]
    assert_pdf_equal(
        obs[r.columns].reset_index(drop=True), r.toPandas(), ["bucket_start"]
    )
    # fully dense
    want = pd.date_range(filled.bucket_start.min(), filled.bucket_start.max(), freq="h")
    assert len(filled) == len(want)


def test_gapfill_per_series(spark, transcripts):
    r = rollup_from_raw(transcripts, "1d", ["conv_id"])
    filled = gapfill(r, "1d", ["conv_id"], global_extent=True).toPandas()
    n_series = filled.conv_id.nunique()
    n_buckets = filled.bucket_start.nunique()
    assert len(filled) == n_series * n_buckets  # dense cross grid
    assert (filled.groupby("conv_id").size() == n_buckets).all()


def test_gapfill_null_policy(spark, transcripts):
    r = rollup_from_raw(transcripts, "1h")
    filled = gapfill(r, "1h", policy="null").toPandas()
    dead = filled[filled.bucket_start.dt.hour.isin([3, 4, 5])]
    assert dead.n_turns.isna().all()


def test_gapfill_locf(spark, transcripts):
    r = rollup_from_raw(transcripts, "1h")
    filled = gapfill_interpolate_last(r, "1h", "n_turns").toPandas().sort_values("bucket_start")
    # after the first observed bucket, n_turns is never null (carried)
    first = filled[filled.n_turns.notna()].bucket_start.min()
    after = filled[filled.bucket_start >= first]
    assert after.n_turns.notna().all()
    # carried value equals the previous observed bucket's value
    dead = after[after.bucket_start.dt.hour == 4]
    assert len(dead) > 0


def test_gapfill_linear_interpolation(spark):
    """Interior generated buckets get the time-weighted blend of their
    neighbors; leading/trailing gaps stay NULL."""
    import pandas as pd
    from mq_to_db_spark.operators.gapfill import gapfill_interpolate_linear

    rows = pd.DataFrame(
        {
            "bucket_start": pd.to_datetime(
                ["2025-01-01 01:00", "2025-01-01 04:00", "2025-01-01 05:00"]
            ).astype("datetime64[us]"),
            "v": [10.0, 40.0, 10.0],
        }
    )
    df = spark.createDataFrame(rows)
    out = (
        gapfill_interpolate_linear(df, "1h", "v")
        .orderBy("bucket_start")
        .toPandas()
    )
    got = dict(zip(out.bucket_start.dt.strftime("%H"), out.v))
    assert got["01"] == 10.0 and got["04"] == 40.0 and got["05"] == 10.0
    assert got["02"] == 20.0  # 10 + (40-10) * 1/3
    assert got["03"] == 30.0


def assert_range_locf_matches_ffill_bfill(spark, pdf, n_buckets, tiebreak=()):
    """``range_locf`` of ``pdf.v`` over ``t`` (forward and reverse) equals
    pandas ffill/bfill in the global ``(t, *tiebreak)`` order; ``pdf.i``
    identifies the rows."""
    from mq_to_db_spark.operators.rangewin import range_locf

    df = spark.createDataFrame(pdf)
    got = range_locf(df, "t", "v", tiebreak, out_col="locf", n_buckets=n_buckets)
    got = range_locf(got, "t", "v", tiebreak, "nocb", n_buckets, reverse=True)
    got = got.toPandas().set_index("i").loc[pdf.i]
    ordered = pdf.sort_values(["t", *tiebreak]).set_index("i").v
    want_f, want_b = ordered.ffill().loc[pdf.i], ordered.bfill().loc[pdf.i]
    pd.testing.assert_series_equal(got.locf, want_f, check_names=False)
    pd.testing.assert_series_equal(got.nocb, want_b, check_names=False)


def test_range_locf_matches_pandas_ffill_bfill(spark):
    """The range-partitioned LOCF (forward + reverse) must equal a plain
    global ffill/bfill — including carries across bucket boundaries
    (n_buckets is forced small so most buckets need the carry)."""
    import numpy as np

    rng = np.random.default_rng(5)
    n = 500
    ts = pd.Timestamp("2025-02-01") + pd.to_timedelta(
        np.sort(rng.choice(10**6, size=n, replace=False)), unit="s"
    )
    v = rng.random(n).round(6)
    mask = rng.random(n) < 0.85  # 85% nulls → long cross-bucket gaps
    pdf = pd.DataFrame(
        {"t": ts.astype("datetime64[us]"), "v": np.where(mask, np.nan, v), "i": range(n)}
    )
    assert_range_locf_matches_ffill_bfill(spark, pdf, n_buckets=7)


def test_keyless_gapfill_locf_plan_is_range_partitioned(spark, transcripts):
    from mq_to_db_spark.operators.rollup import rollup_from_raw

    r = rollup_from_raw(transcripts, "1h")
    out = gapfill_interpolate_last(r, "1h", "n_turns")
    plan = out._jdf.queryExecution().executedPlan().toString().splitlines()
    # the LOCF window's own input is a shuffle on the range bucket (the
    # grid it reads is single-partition, which a window on _rb would
    # otherwise accept as is and run in one task); the remaining
    # SinglePartition exchanges are 1-row final-agg merges for the grid
    # extent plus the tiny carry spine — fine at any scale
    at = next(
        k for k, line in enumerate(plan)
        if "windowspecdefinition(_rb" in line and "bucket_start" in line
    )
    below = [line for line in plan[at + 1:] if "Sort [" not in line]
    assert "Exchange hashpartitioning(_rb" in below[0], "\n".join(plan)
    # no data window partitioned by a constant (the old one-task global)
    assert "windowspecdefinition(1," not in "\n".join(plan)
