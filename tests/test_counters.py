"""Reset-aware counter increase / rate (operators/counters.py):
Prometheus reset semantics vs a hand-computed replay, keyed/keyless
parity (range-partitioned lag + boundary carry), duplicate-timestamp
determinism via tiebreak, and the one-exchange keyed plan."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from mq_to_db_spark.operators.counters import counter_increase


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# (series, minute_offset, sid, value) — resets mid-stream, one duplicate
# timestamp in series a (minute 80, sids 4/5) to exercise the tiebreak.
_ROWS = [
    ("a", 0, 0, 0),
    ("a", 20, 1, 10),
    ("a", 40, 2, 25),
    ("a", 60, 3, 3),   # reset (3 < 25): contributes 3
    ("a", 80, 4, 9),
    ("a", 80, 5, 9),
    ("a", 120, 6, 120),
    ("a", 140, 7, 1),  # reset: contributes 1
    ("b", 0, 0, 5),
    ("b", 20, 1, 5),
    ("b", 40, 2, 7),
    ("b", 60, 3, 100),
    ("b", 80, 4, 0),   # reset to zero: contributes 0
    ("b", 100, 5, 50),
]

# per (series, hour-bucket) expected increase / n_samples
_EXPECT = {
    ("a", 0): (25, 3),   # 0 + 10 + 15
    ("a", 1): (9, 3),    # 3 (reset) + 6 + 0
    ("a", 2): (112, 2),  # 111 + 1 (reset)
    ("b", 0): (2, 3),    # 0 + 0 + 2
    ("b", 1): (143, 3),  # 93 + 0 (reset) + 50
}


def _fixture(spark):
    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf = pd.DataFrame(
        [(s, base + pd.Timedelta(minutes=m), i, v) for s, m, i, v in _ROWS],
        columns=["series", "ts", "sid", "value"],
    )
    return spark.createDataFrame(pdf).withColumn(
        "value", F.col("value").cast("long")
    )


def test_counter_increase_keyed(spark):
    out = counter_increase(
        _fixture(spark), ["series"], tier="1h", tiebreak=("sid",)
    ).collect()
    got = {
        (r.series, r.bucket_start.hour): (r.increase, r.n_samples) for r in out
    }
    assert got == _EXPECT
    rates = {
        (r.series, r.bucket_start.hour): r.rate_per_sec for r in out
    }
    for k, (inc, _) in _EXPECT.items():
        assert rates[k] == round(inc / 3600, 6), k



def test_keyless_matches_keyed_single_series(spark):
    """The range-partitioned keyless lag (per-bucket window + broadcast
    boundary carry) must equal the naive global-window semantics."""
    a = _fixture(spark).filter(F.col("series") == "a").drop("series")
    keyless = counter_increase(
        a, [], tier="1h", tiebreak=("sid",), n_buckets=4
    ).collect()
    got = {(r.bucket_start.hour): (r.increase, r.n_samples) for r in keyless}
    want = {h: v for (s, h), v in _EXPECT.items() if s == "a"}
    assert got == want


def test_keyless_single_sample_and_empty_extent(spark):
    one = spark.createDataFrame(
        [(pd.Timestamp("2024-01-01 00:30:00").to_pydatetime(), 7)],
        "ts timestamp, value long",
    )
    out = counter_increase(one, [], tier="1h").collect()
    assert len(out) == 1 and out[0].increase == 0 and out[0].n_samples == 1


def test_keyed_plan_single_exchange(spark):
    """lag window hash-partitions on the keys and the (keys, bucket) agg
    reuses that partitioning: exactly ONE exchange end to end."""
    out = counter_increase(_fixture(spark), ["series"], tier="1h", tiebreak=("sid",))
    plan = _plan(out)
    assert plan.count("Exchange") == 1, plan


def test_keyless_plan_range_partitioned(spark):
    """The full-data window must partition by the range bucket (_rb),
    never run as one global single-partition window over the samples."""
    a = _fixture(spark).filter(F.col("series") == "a").drop("series")
    out = counter_increase(a, [], tier="1h", tiebreak=("sid",), n_buckets=8)
    plan = _plan(out)
    assert "windowspecdefinition(_rb" in plan, plan


def test_keyless_handles_ntz_timestamps(spark, tmp_path):
    """Parquet timestamps read back as TIMESTAMP_NTZ, which cannot cast
    straight to double — the range extent must go through the epoch cast
    (regression: the keyless path crashed on any parquet source)."""
    path = str(tmp_path / "ntz")
    _fixture(spark).filter(F.col("series") == "a").drop("series").write.parquet(path)
    back = spark.read.parquet(path)
    assert dict(back.dtypes)["ts"].startswith("timestamp")
    out = counter_increase(back, [], tier="1h", tiebreak=("sid",), n_buckets=4)
    got = {(r.bucket_start.hour): (r.increase, r.n_samples) for r in out.collect()}
    assert got == {h: v for (s, h), v in _EXPECT.items() if s == "a"}


# ---------------------------------------------------------------- extrapolated


def _prom_extrap(samples, range_start_us, range_end_us, is_counter=True):
    """Literal Python replay of Prometheus extrapolatedRate
    (prometheus/promql/functions.go) over one window — the oracle for
    rate_extrapolated.  samples: [(ts_us, value)] in series order."""
    n = len(samples)
    if n < 2:
        return None
    first_us, first_v = samples[0]
    last_us, _ = samples[-1]
    sampled = last_us - first_us
    if sampled == 0:
        return None
    res, prev = 0, None
    for _, v in samples:
        if prev is not None:
            res += v - prev if v >= prev else v
        prev = v
    sampled_d = float(sampled)
    avg = sampled_d / float(n - 1)
    dts = float(first_us - range_start_us)
    dte = float(range_end_us - last_us)
    if is_counter and res > 0 and first_v >= 0:
        dtz = sampled_d * (float(first_v) / float(res))
        dts = min(dts, dtz)
    thr = avg * 1.1
    ext = (
        sampled_d
        + (dts if dts < thr else avg / 2.0)
        + (dte if dte < thr else avg / 2.0)
    )
    return float(res) * (ext / sampled_d)


def test_rate_extrapolated_matches_prometheus_replay(spark):
    """Every (series, hour) bucket of the reset fixture must equal the
    literal Go-algorithm replay — including the within-bucket baseline
    (bucket 'a'/1 reads 6, NOT counter_increase's cross-bucket 9), the
    durationToZero clamp, and the half-average-spacing fallback."""
    from mq_to_db_spark.operators.counters import rate_extrapolated

    base = pd.Timestamp("2024-01-01 00:00:00")
    out = rate_extrapolated(
        _fixture(spark), ["series"], tier="1h", tiebreak=("sid",)
    )
    got = {
        (r.series, r.bucket_start.hour): r.increase_ext for r in out.collect()
    }
    by_bucket: dict[tuple[str, int], list[tuple[int, int]]] = {}
    for s, m, _sid, v in sorted(_ROWS, key=lambda r: (r[0], r[1], r[2])):
        ts_us = int((base + pd.Timedelta(minutes=m)).value // 1000)
        by_bucket.setdefault((s, m // 60), []).append((ts_us, v))
    for (s, h), samples in by_bucket.items():
        rs = int((base + pd.Timedelta(hours=h)).value // 1000)
        want = _prom_extrap(samples, rs, rs + 3_600_000_000)
        assert got[(s, h)] == want, ((s, h), got[(s, h)], want)


def test_rate_extrapolated_sparse_buckets_null(spark):
    """<2 samples (or zero sampled interval) → NULL, Prometheus returns
    no point; rate_ext = increase_ext / tier seconds elsewhere."""
    from mq_to_db_spark.operators.counters import rate_extrapolated

    pdf = pd.DataFrame(
        {
            "ts": [
                pd.Timestamp("2024-01-01 00:10:00"),  # lone sample
                pd.Timestamp("2024-01-01 01:20:00"),  # same-ts pair
                pd.Timestamp("2024-01-01 01:20:00"),
                pd.Timestamp("2024-01-01 02:00:00"),  # normal pair
                pd.Timestamp("2024-01-01 02:30:00"),
            ],
            "sid": [0, 1, 2, 3, 4],
            "value": [5, 7, 9, 10, 40],
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "value", F.col("value").cast("long")
    )
    out = rate_extrapolated(df, [], tier="1h", tiebreak=("sid",))
    rows = {r.bucket_start.hour: r for r in out.collect()}
    assert rows[0].increase_ext is None and rows[0].rate_ext is None
    assert rows[1].increase_ext is None  # sampled interval == 0
    assert rows[2].increase_ext is not None
    assert rows[2].rate_ext == rows[2].increase_ext / 3600.0


def test_rate_extrapolated_gauge_mode_no_zero_clamp(spark):
    """is_counter=False: resets are still summed by _contrib (callers
    pass gauges through delta-style ops instead), but the durationToZero
    clamp must NOT apply — a monotonic series starting high extrapolates
    fully toward the window start."""
    from mq_to_db_spark.operators.counters import rate_extrapolated

    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01 00:10:00", periods=5, freq="10min"),
            "sid": range(5),
            # tiny first value vs large increase → durationToZero is
            # sub-second, clamping the 10-minute start gap in counter
            # mode; gauge mode must ignore it and extrapolate fully
            "value": [1, 1_001, 2_001, 3_001, 4_001],
        }
    )
    df = spark.createDataFrame(pdf).withColumn(
        "value", F.col("value").cast("long")
    )
    c = rate_extrapolated(df, [], tier="1h", tiebreak=("sid",)).collect()[0]
    g = rate_extrapolated(
        df, [], tier="1h", tiebreak=("sid",), is_counter=False
    ).collect()[0]
    assert g.increase_ext > c.increase_ext  # gauge extrapolates past dtz


def test_rate_extrapolated_plan_single_exchange(spark):
    """(keys, bucket) lag window + same-keys agg: ONE exchange."""
    from mq_to_db_spark.operators.counters import rate_extrapolated

    out = rate_extrapolated(
        _fixture(spark), ["series"], tier="1h", tiebreak=("sid",)
    )
    plan = _plan(out)
    assert plan.count("Exchange") == 1, plan
