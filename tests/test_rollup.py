"""Rollup operators vs pure-pandas oracles (SURVEY.md §5 point 2).

Every rolled-up point per tier must match the oracle exactly (the
north_rule correctness clause) — tested per series dimension (global,
per-conv, per-tool) and through the 1m→1h→1d cascade.
"""

import numpy as np
import pandas as pd
import pytest

from mq_to_db_spark.operators.rollup import (
    cascade,
    derived_stats,
    fixed_bucket_histogram,
    gauge_last,
    rollup_from_raw,
    rollup_tiers,
    with_rate,
)
from tests.conftest import assert_pdf_equal

_FREQ = {"1m": "min", "1h": "h", "1d": "D"}


def _oracle(pdf: pd.DataFrame, tier: str, keys: list[str]) -> pd.DataFrame:
    p = pdf.copy()
    p["text_len"] = p["text"].str.len().fillna(0).astype("int64")
    p["token_count"] = (
        p["text"].str.strip().replace("", None).str.split(r"\s+").str.len().fillna(0).astype("int64")
    )
    p["bucket_start"] = p["ts"].dt.floor(_FREQ[tier])
    group = ["bucket_start", *keys]
    g = p.groupby(group, dropna=False)
    out = g.agg(
        n_turns=("text_len", "size"),
        text_len_sum=("text_len", "sum"),
        text_len_min=("text_len", "min"),
        text_len_max=("text_len", "max"),
        token_sum=("token_count", "sum"),
    )
    out["text_len_sumsq"] = g.apply(lambda x: (x["text_len"] ** 2).sum())
    for r in ("user", "assistant", "system", "tool"):
        out[f"n_{r}"] = g.apply(lambda x, r=r: (x["role"] == r).sum())
    return out.reset_index()


@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
@pytest.mark.parametrize("keys", [[], ["conv_id"]])
def test_rollup_from_raw_matches_oracle(spark, transcripts, transcripts_pdf, tier, keys):
    got = rollup_from_raw(transcripts, tier, keys).toPandas()
    want = _oracle(transcripts_pdf, tier, keys)
    assert_pdf_equal(got, want, ["bucket_start", *keys])


def test_rollup_per_tool(spark, transcripts, transcripts_pdf):
    got = rollup_from_raw(transcripts.filter("tool is not null"), "1h", ["tool"]).toPandas()
    want = _oracle(transcripts_pdf[transcripts_pdf.tool.notna()], "1h", ["tool"])
    assert_pdf_equal(got, want, ["bucket_start", "tool"])


def test_salted_equals_unsalted(spark, transcripts):
    plain = rollup_from_raw(transcripts, "1m", ["conv_id"]).toPandas()
    salted = rollup_from_raw(transcripts, "1m", ["conv_id"], salt_buckets=8).toPandas()
    assert_pdf_equal(salted, plain, ["bucket_start", "conv_id"])


@pytest.mark.parametrize("keys", [[], ["conv_id"]])
def test_cascade_exact(spark, transcripts, transcripts_pdf, keys):
    """1h from 1m partials == 1h from raw; 1d likewise (C8 exactness)."""
    tiers = rollup_tiers(transcripts, keys)
    for tier in ("1h", "1d"):
        got = tiers[tier].toPandas()
        want = _oracle(transcripts_pdf, tier, keys)
        assert_pdf_equal(got, want, ["bucket_start", *keys])


def test_derived_stats_and_rate(spark, transcripts, transcripts_pdf):
    r = with_rate(derived_stats(rollup_from_raw(transcripts, "1m")), "1m").toPandas()
    o = _oracle(transcripts_pdf, "1m", [])
    o["text_len_avg"] = o.text_len_sum / o.n_turns
    o["text_len_std"] = np.sqrt(np.maximum(o.text_len_sumsq / o.n_turns - o.text_len_avg**2, 0))
    o["turns_per_sec"] = o.n_turns / 60.0
    assert_pdf_equal(r, o, ["bucket_start"])


def test_p90_close_to_exact(spark, transcripts, transcripts_pdf):
    got = rollup_from_raw(transcripts, "1d", with_p90=True).toPandas()
    p = transcripts_pdf.copy()
    p["text_len"] = p["text"].str.len().fillna(0)
    p["bucket_start"] = p["ts"].dt.floor("D")
    # percentile_approx with accuracy 10000 returns an element of the data
    # (nearest-rank); assert it is within one rank of the exact quantile.
    for _, row in got.iterrows():
        vals = np.sort(p.loc[p.bucket_start == row.bucket_start, "text_len"].values)
        rank = np.searchsorted(vals, row.text_len_p90)
        exact_rank = 0.9 * (len(vals) - 1)
        assert abs(rank - exact_rank) <= max(2, 0.01 * len(vals))


def test_gauge_last(spark, transcripts, transcripts_pdf):
    got = gauge_last(transcripts, "1h", "turn_idx", ["conv_id"]).toPandas()
    p = transcripts_pdf.copy()
    p["bucket_start"] = p["ts"].dt.floor("h")
    want = (
        p.sort_values(["ts", "turn_idx"])
        .groupby(["bucket_start", "conv_id"], dropna=False)
        .agg(last_turn_idx=("turn_idx", "last"))
        .reset_index()
    )
    assert_pdf_equal(got, want, ["bucket_start", "conv_id"])


def test_fixed_bucket_histogram(spark, transcripts, transcripts_pdf):
    from mq_to_db_spark.operators.rollup import with_text_stats

    edges = [10.0, 50.0, 100.0, 500.0]
    got = fixed_bucket_histogram(
        with_text_stats(transcripts), "text_len", edges, "1d"
    ).toPandas()
    p = transcripts_pdf.copy()
    p["text_len"] = p["text"].str.len().fillna(0)
    p["bucket_start"] = p["ts"].dt.floor("D")
    p["le"] = np.where(
        p.text_len <= 10, 10.0,
        np.where(p.text_len <= 50, 50.0,
                 np.where(p.text_len <= 100, 100.0,
                          np.where(p.text_len <= 500, 500.0, np.inf))),
    )
    want = p.groupby(["bucket_start", "le"]).size().rename("n").reset_index()
    assert_pdf_equal(got, want, ["bucket_start", "le"])



def _edge_input(pdf: pd.DataFrame, case: str) -> pd.DataFrame:
    """A small input shaped to hit one corner of the tier buckets."""
    out = pdf.head(6).copy()
    if case == "one_row":
        return out.head(1)
    if case == "all_rejected":
        # every row fails validation: the valid rows are none
        out["role"] = "nobody"
    elif case == "midnight":
        # one conversation across two dates
        out["conv_id"] = out["conv_id"].iloc[0]
        out["ts"] = pd.Timestamp("2025-01-01 23:58:30") + pd.to_timedelta(
            np.arange(len(out)) * 40, unit="s"
        )
    elif case == "null_tool":
        out["tool"] = None
    elif case == "last_microsecond":
        out["ts"] = [pd.Timestamp("2025-01-01 23:59:59.999999")] * 3 + [
            pd.Timestamp("2025-01-02 00:00:00")
        ] * 3
    return out


def _assert_multidim_equals_per_dim(df, extra):
    from mq_to_db_spark.operators.rollup import dim_slice, rollup_multidim

    dims = {"global": [], "conv": ["conv_id"], "tool": ["tool"]}
    multi = rollup_multidim(df, dims, extra_group_cols=extra)
    for tier in ("1m", "1h", "1d"):
        for name, keys in dims.items():
            a = dim_slice(multi[tier], dims, name)
            b = rollup_tiers(df, keys=[*extra, *keys])[tier].select(*a.columns)
            assert a.exceptAll(b).count() == 0
            assert b.exceptAll(a).count() == 0
            assert a.count() == b.count()


def test_rollup_multidim_equals_per_dim(spark, transcripts):
    """The one grouping-sets aggregation ≡ one rollup_tiers cascade per
    dimension, every tier — proves the 1-scan production plan computes
    identical points (and that the grouping_id labels correctly
    disambiguate legitimately-NULL keys like tool)."""
    _assert_multidim_equals_per_dim(transcripts, [])


@pytest.mark.parametrize(
    "case", ["all_rejected", "one_row", "midnight", "null_tool", "last_microsecond"]
)
def test_rollup_multidim_edge_inputs_equal_per_dim(spark, transcripts_pdf, case):
    """As above, over small inputs shaped to hit one corner of the tier
    buckets each; they go through the pipeline's validation and unit
    columns first."""
    from mq_to_db_spark.fixtures.generator import TRANSCRIPT_SCHEMA
    from mq_to_db_spark.operators.validate import split_valid_rejected
    from mq_to_db_spark.plans.pipeline import unit_cols

    raw = spark.createDataFrame(_edge_input(transcripts_pdf, case), schema=TRANSCRIPT_SCHEMA)
    df = unit_cols(split_valid_rejected(raw)[0], 4)
    assert (df.count() == 0) == (case == "all_rejected")
    _assert_multidim_equals_per_dim(df, ["conv_bucket", "date"])


def test_histogram_quantile_matches_numpy_oracle(spark, transcripts):
    """C5: quantile-from-histogram (Prometheus histogram_quantile
    semantics) vs a pure-numpy implementation of the same formula."""
    import numpy as np
    from mq_to_db_spark.operators.rollup import (
        fixed_bucket_histogram,
        histogram_quantile,
        with_text_stats,
    )

    edges = [10.0, 25.0, 50.0, 100.0, 200.0]
    df = with_text_stats(transcripts)
    hist = fixed_bucket_histogram(df, "text_len", edges, "1d")
    got = {
        r.bucket_start: r.q90
        for r in histogram_quantile(hist, 0.9).collect()
    }

    pdf = df.select("ts", "text_len").toPandas()
    pdf["bucket_start"] = pdf["ts"].dt.floor("D")
    for b, grp in pdf.groupby("bucket_start"):
        vals = grp["text_len"].to_numpy()
        # right-closed buckets (value <= le), matching fixed_bucket_histogram
        bounds = [-np.inf, *edges, np.inf]
        counts = np.array(
            [
                ((vals > bounds[i]) & (vals <= bounds[i + 1])).sum()
                for i in range(len(bounds) - 1)
            ]
        )
        cum = counts.cumsum()
        rank = 0.9 * cum[-1]
        i = int(np.searchsorted(cum, rank))
        all_edges = [*edges, np.inf]
        lo = 0.0 if i == 0 else all_edges[i - 1]
        hi = all_edges[i]
        if np.isinf(hi):
            want = float(edges[-1])
        else:
            prev = 0 if i == 0 else cum[i - 1]
            want = lo + (hi - lo) * (rank - prev) / counts[i]
        assert abs(got[b] - want) < 1e-9, (b, got[b], want)


def test_role_transitions_matches_pandas(spark, transcripts, transcripts_pdf):
    from mq_to_db_spark.operators.rollup import role_transitions

    got = role_transitions(transcripts, tier="1d").toPandas()
    p = transcripts_pdf.sort_values(["conv_id", "ts", "turn_idx"])
    p = p.assign(prev_role=p.groupby("conv_id")["role"].shift())
    p = p[p.prev_role.notna()]
    want = (
        p.assign(bucket_start=p["ts"].dt.floor("D"))
        .groupby(["bucket_start", "prev_role", "role"], as_index=False)
        .size()
        .rename(columns={"role": "next_role", "size": "n_transitions"})
    )
    assert_pdf_equal(got, want, ["bucket_start", "prev_role", "next_role"])



def test_histogram_cascade_exact(spark, transcripts):
    """1h histograms merged to 1d equal histograms computed at 1d
    directly — per-le count addition (C4 joins the mergeable family)."""
    from mq_to_db_spark.operators.rollup import cascade_histogram, fixed_bucket_histogram
    from pyspark.sql import functions as F

    df = transcripts.withColumn("text_len", F.length("text").cast("double"))
    edges = [10.0, 50.0, 200.0, 1000.0]
    hourly = fixed_bucket_histogram(df, "text_len", edges, "1h", ["role"])
    merged = cascade_histogram(hourly, "1d", ["role"])
    direct = fixed_bucket_histogram(df, "text_len", edges, "1d", ["role"])

    def norm(h):
        return {(r.bucket_start, r.role, r.le): r.n for r in h.collect()}

    assert norm(merged) == norm(direct)


def test_histogram_fraction_matches_numpy_oracle(spark, transcripts):
    """histogram_fraction (inverse of histogram_quantile) vs a numpy
    replay of the same interpolation convention."""
    import numpy as np
    from mq_to_db_spark.operators.rollup import (
        fixed_bucket_histogram,
        histogram_fraction,
        with_text_stats,
    )

    edges = [10.0, 25.0, 50.0, 100.0, 200.0]
    bound = 40.0  # strictly inside the (25, 50] bucket → real interpolation
    df = with_text_stats(transcripts)
    hist = fixed_bucket_histogram(df, "text_len", edges, "1d")
    got = {
        r.bucket_start: r.fraction
        for r in histogram_fraction(hist, bound).collect()
    }

    pdf = df.select("ts", "text_len").toPandas()
    pdf["bucket_start"] = pdf["ts"].dt.floor("D")
    for b, grp in pdf.groupby("bucket_start"):
        vals = grp["text_len"].to_numpy()
        bounds = [-np.inf, *edges, np.inf]
        counts = np.array(
            [
                ((vals > bounds[i]) & (vals <= bounds[i + 1])).sum()
                for i in range(len(bounds) - 1)
            ]
        )
        full = counts[: np.searchsorted(edges, bound, side="right")].sum()
        i = int(np.searchsorted(edges, bound, side="right"))
        lo = 0.0 if i == 0 else edges[i - 1]
        partial = (
            counts[i] * min(1.0, max(0.0, (bound - lo) / (edges[i] - lo)))
            if i < len(edges)
            else 0.0
        )
        want = (full + partial) / counts.sum()
        assert abs(got[b] - want) < 1e-12, (b, got[b], want)


def test_histogram_fraction_edges(spark):
    """Hand-built histogram: bound below/at/above edges, +inf bucket
    never interpolates, zero-total window absent."""
    from datetime import datetime

    import pandas as pd

    from mq_to_db_spark.operators.rollup import histogram_fraction

    day = datetime(2025, 1, 1)
    hist = spark.createDataFrame(
        pd.DataFrame(
            {
                "bucket_start": [day] * 3,
                "le": [1.0, 5.0, float("inf")],
                "n": [2, 6, 2],
            }
        )
    )

    def frac(b):
        rows = histogram_fraction(hist, b).collect()
        return rows[0]["fraction"] if rows else None

    assert frac(-3.0) == 0.0                     # clamped below the 0 floor
    assert frac(1.0) == pytest.approx(0.2)       # exact edge: full buckets only
    assert frac(3.0) == pytest.approx((2 + 6 * 0.5) / 10)   # mid-(1,5] interp
    assert frac(5.0) == pytest.approx(0.8)
    assert frac(1e9) == pytest.approx(0.8)       # +inf bucket never interpolates
