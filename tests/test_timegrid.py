"""The time module (operators/timegrid.py): the one step grid, the step
arithmetic against plain Python, and the guard that no other module
converts timestamps to epoch microseconds on its own."""

from __future__ import annotations

import re
from datetime import datetime, timedelta
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mq_to_db_spark.operators.rollup import rollup_from_raw
from mq_to_db_spark.operators.timegrid import (
    epoch_us,
    from_epoch_us,
    span_steps,
    step_grid,
    step_start,
    trunc_unit,
)

T0 = datetime(2025, 1, 1, 0, 0)


def _minutes(*ms: float) -> list[datetime]:
    return [T0 + timedelta(minutes=m) for m in ms]


def _series(spark):
    rows = [("a", t) for t in _minutes(0.5, 2.2, 2.8, 7.0)]
    rows += [("b", t) for t in _minutes(1.0, 9.5)]
    return spark.createDataFrame(rows, "k string, ts timestamp")


def _tier_grid(spark, request):
    """gapfill's grid: every hour of a rollup's bucket extent."""
    r = rollup_from_raw(request.getfixturevalue("transcripts"), "1h")
    got = step_grid(r, "1 hour", ts_col="bucket_start").toPandas().bucket_start
    lo, hi = r.agg(F.min("bucket_start"), F.max("bucket_start")).first()
    return sorted(got), list(pd.date_range(lo, hi, freq="h"))


def _aligned_grid(spark, request):
    """concurrency's grid: the start floored to ``align``, the end not."""
    df = spark.createDataFrame([(t,) for t in _minutes(7, 125)], "ts timestamp")
    got = step_grid(df, "30 minutes", align="hour", out_col="grid_ts")
    return sorted(r.grid_ts for r in got.collect()), _minutes(0, 30, 60, 90, 120)


def _series_grids(spark, request):
    """resample's grids: each series over its own extent, from its first
    sample's minute."""
    got = step_grid(_series(spark), "1 minute", ["k"], align="minute", out_col="grid_ts")
    want = [("a", t) for t in _minutes(*range(0, 8))]
    want += [("b", t) for t in _minutes(*range(1, 10))]
    return sorted((r.k, r.grid_ts) for r in got.collect()), want


def _shared_grids(spark, request):
    """staleness' grids: every series over the frame's one extent."""
    got = step_grid(
        _series(spark), "1 minute", ["k"], align="minute", global_extent=True
    )
    want = [(k, t) for k in "ab" for t in _minutes(*range(0, 10))]
    return sorted((r.k, r.ts) for r in got.collect()), want


@pytest.mark.parametrize(
    "case",
    [_tier_grid, _aligned_grid, _series_grids, _shared_grids],
    ids=["tier", "aligned", "per_series", "global_extent"],
)
def test_step_grid(spark, request, case):
    got, want = case(spark, request)
    assert got == want


STEP = 60_000_000
INSTANTS = [-90_000_001, -1, 0, 1, STEP - 1, STEP, 3_600_000_123]


def test_step_start_floors_onto_the_grid(spark):
    df = spark.createDataFrame([(u,) for u in INSTANTS], "u long")
    got = df.select(
        "u",
        step_start(F.col("u"), STEP).alias("s"),
        step_start(F.col("u"), STEP, 30_000_000).alias("o"),
    ).collect()
    assert [(r.s, r.o) for r in sorted(got)] == [
        (u - u % STEP, u - (u - 30_000_000) % STEP) for u in INSTANTS
    ]


def test_span_steps_are_the_steps_inside_the_span(spark):
    reach = 150_000_000
    df = spark.createDataFrame([(u,) for u in INSTANTS], "u long")
    got = (
        df.select("u", span_steps(F.col("u"), F.col("u") + reach, STEP).alias("g"))
        .groupBy("u")
        .agg(F.sort_array(F.collect_list("g")).alias("gs"))
        .collect()
    )
    first = {u: u + (-u) % STEP for u in INSTANTS}
    assert {r.u: r.gs for r in got} == {
        u: list(range(first[u], u + reach, STEP)) for u in INSTANTS
    }


def test_epoch_us_round_trip_types(spark):
    df = spark.sql("SELECT timestamp_ntz'2025-01-01 00:00:01.000002' AS t")
    out = df.select(epoch_us(F.col("t")).alias("us")).select(
        "us",
        from_epoch_us(F.col("us")).alias("ntz"),
        from_epoch_us(F.col("us"), ltz=True).alias("ltz"),
    )
    assert out.dtypes == [("us", "bigint"), ("ntz", "timestamp_ntz"), ("ltz", "timestamp")]
    r = out.first()
    assert r.us == 1_735_689_601_000_002
    assert r.ntz == datetime(2025, 1, 1, 0, 0, 1, 2)


def test_trunc_unit():
    assert trunc_unit("1 hour") == "hour"
    assert trunc_unit("1 days") == "day"
    for bad in ("2 hours", "1 week", "1 month"):
        with pytest.raises(ValueError):
            trunc_unit(bad)


def test_one_module_converts_epoch_micros():
    """``unix_micros(``, ``timestamp_micros(`` and ``timestamp_ltz`` belong
    to timegrid.py alone; ``unix_timestamp(`` stays only where whole
    seconds are the semantics (the regression x, the SLO range frame)."""
    repo = Path(__file__).resolve().parents[1]
    files = [*(repo / "mq_to_db_spark").rglob("*.py"), repo / "__spark_entry__.py"]

    def users(pattern: str) -> list[str]:
        rx = re.compile(pattern)
        return sorted(
            p.relative_to(repo).as_posix() for p in files if rx.search(p.read_text())
        )

    for pattern in (r"unix_micros\(", r"timestamp_micros\(", r"timestamp_ltz"):
        assert users(pattern) == ["mq_to_db_spark/operators/timegrid.py"], pattern
    assert users(r"unix_timestamp\(") == [
        "mq_to_db_spark/operators/derivatives.py",
        "mq_to_db_spark/operators/slo.py",
    ]
