"""Interval↔bucket operators (operators/intervals.py): heartbeat uptime
and carried (interpolated) time-weighted average vs brute-force python
replays, coverage/conservation invariants, plan shape, and hypothesis
property tests over adversarial inputs (duplicate timestamps, islands
spanning many buckets, zero-gap heartbeats)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mq_to_db_spark.operators.intervals import (
    explode_bucket_overlaps,
    heartbeat_agg,
    interpolated_time_weighted_avg,
)
from mq_to_db_spark.operators.timegrid import duration_us

HOUR_US = 3_600_000_000


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _ts(minutes: float) -> pd.Timestamp:
    return pd.Timestamp("2024-03-01 00:00:00") + pd.Timedelta(minutes=minutes)


def _us(ts) -> int:
    return pd.Timestamp(ts).value // 1_000


# ------------------------------------------------------------- brute oracles


def _merge_islands(beats_us: list[int], tol_us: int) -> list[tuple[int, int]]:
    out: list[list[int]] = []
    for b in sorted(beats_us):
        if out and b - out[-1][2] <= tol_us:
            out[-1][1] = b + tol_us
            out[-1][2] = b
        else:
            out.append([b, b + tol_us, b])
    return [(s, e) for s, e, _ in out]


def _clip(s: int, e: int, width: int) -> dict[int, int]:
    """bucket_start_us -> overlap µs for half-open [s, e)."""
    out: dict[int, int] = {}
    b = s - s % width
    while b < e:
        out[b] = min(e, b + width) - max(s, b)
        b += width
    return out


def _brute_uptime(beats_us: list[int], tol_us: int, width: int):
    """(bucket_us -> (n_islands, uptime_us))"""
    agg: dict[int, list[int]] = {}
    for s, e in _merge_islands(beats_us, tol_us):
        for b, ov in _clip(s, e, width).items():
            cur = agg.setdefault(b, [0, 0])
            cur[0] += 1
            cur[1] += ov
    return {b: tuple(v) for b, v in agg.items()}


def _brute_twa_interp(samples: list[tuple[int, float]], width: int):
    """samples: (ts_us, value) pre-sorted by total order.  Returns
    bucket_us -> (n_samples, twa)."""
    agg: dict[int, list] = {}
    for i, (s, v) in enumerate(samples):
        e = samples[i + 1][0] if i + 1 < len(samples) else (s - s % width) + width
        if e <= s:
            continue
        for b, ov in _clip(s, e, width).items():
            cur = agg.setdefault(b, [0, 0.0, 0])
            cur[0] += 1 if s >= b else 0
            cur[1] += v * ov
            cur[2] += ov
    return {b: (n, round(num / den, 6)) for b, (n, num, den) in agg.items()}


# ------------------------------------------------------------------- fixtures


def _beats_df(spark, minutes: list[float]):
    pdf = pd.DataFrame(
        {"k": "a", "ts": [_ts(m) for m in minutes], "bid": range(len(minutes))}
    )
    return spark.createDataFrame(pdf)


# ---------------------------------------------------------------- unit tests


def test_duration_us_parses():
    assert duration_us("15 minutes") == 900_000_000
    assert duration_us("1 hour") == HOUR_US
    assert duration_us("2 days") == 2 * 86_400_000_000
    with pytest.raises(ValueError):
        duration_us("3 months")
    with pytest.raises(ValueError):
        duration_us("-1 hour")


def test_explode_overlaps_exact_clip(spark):
    # one interval spanning 3 hour-buckets with ragged edges
    df = spark.createDataFrame(
        pd.DataFrame({"s": [_ts(50)], "e": [_ts(170)]})
    )
    got = {
        (_us(r.bucket_start), r._ov_us)
        for r in explode_bucket_overlaps(df, "s", "e", "1 hour").collect()
    }
    base = _us(_ts(0))
    assert got == {
        (base, 10 * 60_000_000),
        (base + HOUR_US, HOUR_US),
        (base + 2 * HOUR_US, 50 * 60_000_000),
    }
    # empty interval dropped
    empty = spark.createDataFrame(pd.DataFrame({"s": [_ts(5)], "e": [_ts(5)]}))
    assert explode_bucket_overlaps(empty, "s", "e", "1 hour").count() == 0


def test_heartbeat_matches_brute(spark):
    # gaps of exactly tol (merge), tol+1µs (split), island spanning 2 buckets
    minutes = [0, 10, 20, 45, 57, 110, 111, 112, 200]
    df = _beats_df(spark, minutes)
    got = {
        _us(r.bucket_start): (r.n_live_intervals, r.uptime_sec)
        for r in heartbeat_agg(
            df, ["k"], tolerance="10 minutes", bucket="1 hour", tiebreak=["bid"]
        ).collect()
    }
    want = {
        b: (n, round(up / 1e6, 6))
        for b, (n, up) in _brute_uptime(
            [_us(_ts(m)) for m in minutes], duration_us("10 minutes"), HOUR_US
        ).items()
    }
    assert got == want
    # uptime never exceeds the bucket width
    assert all(v[1] <= 3600.0 for v in got.values())


def test_heartbeat_exact_tolerance_edge_merges(spark):
    # gap == tolerance merges (<=), one µs more splits
    a = heartbeat_agg(
        _beats_df(spark, [0, 10]), ["k"], tolerance="10 minutes", bucket="1 day"
    ).collect()
    assert len(a) == 1 and a[0].n_live_intervals == 1
    assert a[0].uptime_sec == pytest.approx(20 * 60, abs=1e-9)
    b = heartbeat_agg(
        _beats_df(spark, [0, 10.001]), ["k"], tolerance="10 minutes", bucket="1 day"
    ).collect()
    assert b[0].n_live_intervals == 2


def test_twa_interp_matches_brute_and_carries(spark):
    # sparse gauge: sample at 00:30 value 10, next at 03:15 value 50 —
    # hours 1 and 2 have NO samples but a carried value of 10
    pdf = pd.DataFrame(
        {
            "k": "a",
            "ts": [_ts(30), _ts(195), _ts(200)],
            "eid": [0, 1, 2],
            "value": [10.0, 50.0, 30.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = interpolated_time_weighted_avg(
        df, ["k"], value_col="value", bucket="1 hour", tiebreak=["eid"]
    )
    got = {
        _us(r.bucket_start): (r.n_samples, r.twa_interp) for r in out.collect()
    }
    want = _brute_twa_interp(
        [(_us(r.ts), r.value) for r in pdf.itertuples()], HOUR_US
    )
    assert got == want
    base = _us(_ts(0))
    # carried buckets exist with zero samples and the held value
    assert got[base + HOUR_US] == (0, 10.0)
    assert got[base + 2 * HOUR_US] == (0, 10.0)


def test_twa_interp_full_coverage_conservation(spark):
    """Σ_buckets twa·weight == the LOCF integral over the whole span, and
    interior buckets are fully covered (weight == width)."""
    minutes = [7, 22, 60, 61, 130, 240, 250]
    values = [3.0, 5.0, 2.0, 8.0, 1.0, 9.0, 4.0]
    pdf = pd.DataFrame(
        {"k": "a", "ts": [_ts(m) for m in minutes], "eid": range(7), "value": values}
    )
    df = spark.createDataFrame(pdf)
    horizon = F.lit(_ts(300).to_pydatetime()).cast("timestamp_ntz")
    clipped = explode_bucket_overlaps(
        df.withColumn(
            "_he", F.lead("ts").over(W.partitionBy("k").orderBy("ts", "eid"))
        ).withColumn("_he", F.coalesce(F.col("_he").cast("timestamp_ntz"), horizon)),
        "ts",
        "_he",
        "1 hour",
    )
    per_bucket = clipped.groupBy("bucket_start").agg(F.sum("_ov_us").alias("w")).collect()
    interior = [r for r in per_bucket if 0 < _us(r.bucket_start) - _us(_ts(0)) < 4 * HOUR_US]
    assert interior and all(r.w == HOUR_US for r in interior)


def test_heartbeat_plan_two_exchanges(spark):
    """Island groupBy reuses the window's hash partitioning; only the
    final (keys, bucket) agg adds a second exchange."""
    df = _beats_df(spark, list(range(0, 300, 7)))
    plan = _plan(
        heartbeat_agg(df, ["k"], tolerance="10 minutes", bucket="1 hour")
    )
    assert plan.count("Exchange") <= 2
    assert "PythonUDF" not in plan


# ---------------------------------------------------------------- properties


def test_heartbeat_hypothesis_matches_brute(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=5000), min_size=1, max_size=60
        ),
        st.integers(min_value=1, max_value=90),
    )
    def check(minutes, tol_min):
        df = _beats_df(spark, sorted(set(minutes)))
        got = {
            _us(r.bucket_start): (r.n_live_intervals, round(r.uptime_sec * 1e6))
            for r in heartbeat_agg(
                df, ["k"], tolerance=f"{tol_min} minutes", bucket="1 hour"
            ).collect()
        }
        want = {
            b: (n, up)
            for b, (n, up) in _brute_uptime(
                [_us(_ts(m)) for m in sorted(set(minutes))],
                tol_min * 60_000_000,
                HOUR_US,
            ).items()
        }
        assert got == want

    check()


def test_twa_interp_hypothesis_matches_brute(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=3000),  # minute, dups likely
                st.integers(min_value=-50, max_value=50),
            ),
            min_size=1,
            max_size=50,
        )
    )
    def check(pairs):
        pdf = pd.DataFrame(
            {
                "k": "a",
                "ts": [_ts(m) for m, _ in pairs],
                "eid": range(len(pairs)),
                "value": [float(v) for _, v in pairs],
            }
        )
        df = spark.createDataFrame(pdf)
        got = {
            _us(r.bucket_start): (r.n_samples, r.twa_interp)
            for r in interpolated_time_weighted_avg(
                df, ["k"], bucket="1 hour", tiebreak=["eid"]
            ).collect()
        }
        ordered = sorted(
            [(_us(r.ts), r.eid, r.value) for r in pdf.itertuples()],
            key=lambda t: (t[0], t[1]),
        )
        want = _brute_twa_interp([(t, v) for t, _, v in ordered], HOUR_US)
        assert got == want

    check()


# -- interval set algebra: merge + subtract (Alertmanager silences) ----------


def _iv(spark, rows):
    return (
        spark.createDataFrame(rows, "k string, start_ts string, end_ts string")
        .withColumn("start_ts", F.col("start_ts").cast("timestamp"))
        .withColumn("end_ts", F.col("end_ts").cast("timestamp"))
    )


def test_merge_intervals_overlap_nest_touch(spark):
    from mq_to_db_spark.operators.intervals import merge_intervals

    sil = _iv(spark, [
        ("a", "2024-01-01 00:00:00", "2024-01-01 02:00:00"),
        ("a", "2024-01-01 01:00:00", "2024-01-01 03:00:00"),  # overlap
        ("a", "2024-01-01 01:10:00", "2024-01-01 01:20:00"),  # nested
        ("a", "2024-01-01 03:00:00", "2024-01-01 04:00:00"),  # touching merges
        ("a", "2024-01-01 05:00:00", "2024-01-01 06:00:00"),  # separate
        ("a", "2024-01-01 07:00:00", "2024-01-01 07:00:00"),  # empty → dropped
        ("b", "2024-01-01 01:30:00", "2024-01-01 02:30:00"),  # key isolation
    ])
    got = sorted(
        (r.k, str(r.start_ts), str(r.end_ts))
        for r in merge_intervals(sil, ["k"]).collect()
    )
    assert got == [
        ("a", "2024-01-01 00:00:00", "2024-01-01 04:00:00"),
        ("a", "2024-01-01 05:00:00", "2024-01-01 06:00:00"),
        ("b", "2024-01-01 01:30:00", "2024-01-01 02:30:00"),
    ]


def test_subtract_intervals_cases(spark):
    from mq_to_db_spark.operators.intervals import subtract_intervals

    base = _iv(spark, [
        ("a", "2024-01-01 00:00:00", "2024-01-01 10:00:00"),  # holes cut
        ("a", "2024-01-02 00:00:00", "2024-01-02 01:00:00"),  # untouched
        ("a", "2024-01-03 00:00:00", "2024-01-03 02:00:00"),  # fully covered
        ("a", "2024-01-04 00:00:00", "2024-01-04 02:00:00"),  # edge-touching
        ("b", "2024-01-01 03:00:00", "2024-01-01 05:00:00"),  # key isolation
    ])
    sil = _iv(spark, [
        ("a", "2024-01-01 02:00:00", "2024-01-01 04:00:00"),
        ("a", "2024-01-01 03:00:00", "2024-01-01 05:00:00"),  # merge → [02,05)
        ("a", "2024-01-01 07:00:00", "2024-01-01 08:00:00"),
        ("a", "2024-01-02 23:00:00", "2024-01-03 23:00:00"),  # swallow ep 3
        ("a", "2024-01-03 23:30:00", "2024-01-04 00:00:00"),  # ends AT ep4 start
        ("a", "2024-01-04 02:00:00", "2024-01-04 03:00:00"),  # starts AT ep4 end
    ])
    got = sorted(
        (r.k, str(r.start_ts), str(r.sub_start), str(r.sub_end), r.sub_us)
        for r in subtract_intervals(base, sil, ["k"]).collect()
    )
    h2 = 7_200_000_000
    assert got == [
        ("a", "2024-01-01 00:00:00", "2024-01-01 00:00:00", "2024-01-01 02:00:00", h2),
        ("a", "2024-01-01 00:00:00", "2024-01-01 05:00:00", "2024-01-01 07:00:00", h2),
        ("a", "2024-01-01 00:00:00", "2024-01-01 08:00:00", "2024-01-01 10:00:00", h2),
        ("a", "2024-01-02 00:00:00", "2024-01-02 00:00:00", "2024-01-02 01:00:00", 3_600_000_000),
        # half-open: silences touching ep4's endpoints cut nothing
        ("a", "2024-01-04 00:00:00", "2024-01-04 00:00:00", "2024-01-04 02:00:00", h2),
        ("b", "2024-01-01 03:00:00", "2024-01-01 03:00:00", "2024-01-01 05:00:00", h2),
    ]


def test_subtract_intervals_conservation(spark):
    # survivors + clipped silence coverage == base width, per interval
    from mq_to_db_spark.operators.intervals import (
        merge_intervals,
        subtract_intervals,
    )

    base = _iv(spark, [("a", "2024-01-01 00:00:00", "2024-01-01 12:00:00")])
    sil = _iv(spark, [
        ("a", "2024-01-01 01:00:00", "2024-01-01 02:00:00"),
        ("a", "2024-01-01 01:30:00", "2024-01-01 03:00:00"),
        ("a", "2024-01-01 11:00:00", "2024-01-01 13:00:00"),  # clipped at end
    ])
    kept = sum(
        r.sub_us for r in subtract_intervals(base, sil, ["k"]).collect()
    )
    merged = merge_intervals(sil, ["k"]).collect()
    covered = sum(
        (min(r.end_ts.timestamp(), 12 * 3600 + 1704067200)
         - max(r.start_ts.timestamp(), 1704067200)) * 1_000_000
        for r in merged
    )
    assert kept + covered == 12 * 3_600_000_000


def test_subtract_intervals_broadcast_plan(spark):
    from mq_to_db_spark.operators.intervals import subtract_intervals

    base = _iv(spark, [("a", "2024-01-01 00:00:00", "2024-01-01 10:00:00")])
    sil = _iv(spark, [("a", "2024-01-01 02:00:00", "2024-01-01 04:00:00")])
    plan = (
        subtract_intervals(base, sil, ["k"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Python" not in plan
