"""Grid resampling of irregular gauge series: LOCF / linear value at
every grid instant.

The reference's metrics plane is scrape-based — Prometheus evaluates an
instant query by taking, per series, the most recent sample within the
lookback window (LOCF with staleness); TimescaleDB's ``interpolate()``
instead draws the line between the bracketing samples.  Both are the
same shape over a transcript-derived gauge: align an IRREGULAR sample
stream (samples land wherever turns happen) onto a REGULAR grid so
series become comparable, joinable (operators/vectormatch.py), and
chartable.

Distinct from gap-fill (operators/gapfill.py), which densifies an
already-bucketed rollup: resampling evaluates the raw sample stream AT
instants — no bucketing, values are point evaluations, and a lookback
bound marks stale series NULL exactly like PromQL staleness.

Scale design: grid instants are ``step``-spaced per series over its
[first, last] extent, from the first sample's minute
(:func:`~mq_to_db_spark.operators.timegrid.step_grid`: a tiny per-series
extent agg + explode, never materialized input); both directional matches are as-of joins
(operators/asof.py: union + in-window struct carry, ONE exchange per
direction, no grid×samples product); interpolation itself is pure
column arithmetic in exact epoch-µs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mq_to_db_spark.operators.asof import asof_join
from mq_to_db_spark.operators.timegrid import epoch_us, from_epoch_us, span_steps, step_grid


def resample_locf(
    df: DataFrame,
    step: str,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
    lookback: str | None = None,
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """PromQL-instant-query semantics: at every grid instant, the most
    recent sample at or before it; ``lookback`` (e.g. ``"5 minutes"``)
    is the staleness bound — a series silent longer than that reads
    NULL, exactly a vanished Prometheus target.  Output: keys, grid_ts,
    ``value`` (+ ``sample_ts`` of the sample used)."""
    keys = list(keys or [])
    grid = step_grid(df, step, keys, ts_col, align="minute")
    right = df.select(*keys, ts_col, value_col, *tiebreak)
    out = asof_join(
        grid,
        right,
        on=ts_col,
        by=keys,
        value_cols=[value_col],
        tolerance=lookback,
        direction="backward",
    )
    return out.select(
        *keys,
        F.col(ts_col).alias("grid_ts"),
        F.col(f"{value_col}_right").alias(value_col),
        F.col(f"{ts_col}_right").alias("sample_ts"),
    )


def resample_interpolate(
    df: DataFrame,
    step: str,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """TimescaleDB-``interpolate()`` semantics: at every grid instant,
    the linear interpolation between the bracketing samples (prev at or
    before, next strictly after), computed in exact epoch-µs::

        v(g) = v0 + (v1 - v0) · (g - t0) / (t1 - t0)

    An instant at a sample reads the sample itself; past the last sample
    the value holds (LOCF tail); before the first sample it is NULL.
    Two as-of joins (backward + forward), each one exchange.
    """
    keys = list(keys or [])
    grid = step_grid(df, step, keys, ts_col, align="minute")
    right = df.select(*keys, ts_col, value_col)
    prev = asof_join(
        grid, right, on=ts_col, by=keys, value_cols=[value_col],
        direction="backward", suffix="_p",
    ).withColumnRenamed(f"{value_col}_p", "_v0")
    both = asof_join(
        prev, right, on=ts_col, by=keys, value_cols=[value_col],
        direction="forward", suffix="_n",
    ).withColumnRenamed(f"{value_col}_n", "_v1")
    g = epoch_us(F.col(ts_col))
    t0 = epoch_us(F.col(f"{ts_col}_p"))
    t1 = epoch_us(F.col(f"{ts_col}_n"))
    v0, v1 = F.col("_v0"), F.col("_v1")
    interp = (
        # at-sample instants (t1 == g is possible only when g is a
        # sample: forward matches >=) — and degenerate t0 == t1
        F.when(t1 == t0, v0)
        .when(F.col(f"{ts_col}_n").isNull(), v0)  # LOCF tail
        # exact BIGINT µs deltas; one double division — replayable
        # bit-for-bit by epoch_us arithmetic in the oracle
        .otherwise(v0 + (v1 - v0) * (g - t0) / (t1 - t0))
    )
    return both.select(
        *keys,
        F.col(ts_col).alias("grid_ts"),
        interp.alias(value_col),
    )


def over_time_grid(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    range_s: int = 3600,
    step_s: int = 600,
    tiebreak: tuple[str, ...] = (),
    out_col: str = "grid_ts",
    quantiles: tuple[float, ...] = (),
    distinct_col: str | None = None,
) -> DataFrame:
    """PromQL ``*_over_time`` range-vector functions on a SLIDING step
    grid: ``avg/min/max/sum/count/last_over_time(v[range])`` evaluated at
    every epoch-aligned ``step_s`` instant ``t``, window ``(t − range,
    t]`` (the PromQL left-open range selector).  This is the overlapping
    complement of the engine's tumbling surfaces — subquery_eval's outer
    buckets and range_eval's tiers never overlap, but a Grafana panel
    asking for ``avg_over_time(v[1h])`` at 10-minute resolution reads
    each sample into SIX windows.

    Implementation is the bounded-explode trick, not a grid×samples
    product: each sample emits exactly the grid instants it affects
    (``sequence`` from the first instant at-or-after the sample to the
    last one strictly inside ``ts + range`` — fan-out = ⌈range/step⌉,
    THE scale dial), then ONE hash aggregation per ``(keys…, instant)``.
    Instants with an empty window are absent, exactly as PromQL returns
    no point there.  Exactness: pass integer-scaled values — count/sum/
    min/max stay BIGINT, ``avg`` is one double division, ``last`` is a
    ``max_by`` over the (ts, tiebreak) total order.  ``quantiles`` adds
    PromQL ``quantile_over_time`` columns (``p50`` for 0.5, …) via the
    exact interpolated ``percentile`` aggregate — same R-7 rule as
    DuckDB's ``quantile_cont``, so replays hash-match; its per-group
    buffer is O(window samples), exactly Prometheus' own cost (the
    unbounded-cardinality scale path is the DDSketch rollup,
    operators/sketch.py).

    ``distinct_col`` adds PromQL-less but dashboard-real
    ``count_distinct_over_time`` (distinct users per sliding window) as
    an ``n_distinct`` column — an exact two-phase distinct aggregate
    (partial dedup map-side), per-group state O(distinct values in the
    window); the unbounded-cardinality scale path is the HLL sketch
    (operators/hll.py).

    Scale: explode is narrow (no shuffle), the single agg map-side
    combines, and the instant key spreads hot series across ``range/
    step`` reducers; memory per task is O(1).
    """
    if step_s > range_s:
        raise ValueError(f"step {step_s}s exceeds range {range_s}s")
    step_us = step_s * 1_000_000
    range_us = range_s * 1_000_000
    order_key = F.struct(
        F.col(ts_col).alias("t"), *[F.col(t) for t in tiebreak]
    )
    dcols = [F.col(distinct_col).alias("_d")] if distinct_col else []
    staged = df.select(
        *keys,
        epoch_us(F.col(ts_col)).alias("_tus"),
        F.col(value_col).alias("_v"),
        order_key.alias("_ok"),
        *dcols,
    )
    # a sample at t lies in the windows (g - range, g] with t <= g < t + range
    tus = F.col("_tus")
    exploded = staged.select(
        *keys,
        "_v",
        "_ok",
        *(["_d"] if distinct_col else []),
        span_steps(tus, tus + F.lit(range_us), step_us).alias("_gus"),
    )
    return (
        exploded.groupBy(*keys, "_gus")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("_v").alias("sum_v"),
            F.min("_v").alias("min_v"),
            F.max("_v").alias("max_v"),
            F.max_by("_v", F.col("_ok")).alias("last_v"),
            *[
                F.percentile("_v", F.lit(q)).alias(f"p{int(round(q * 100))}")
                for q in quantiles
            ],
            *(
                [F.count_distinct(F.col("_d")).alias("n_distinct")]
                if distinct_col
                else []
            ),
        )
        .select(
            *keys,
            from_epoch_us(F.col("_gus")).alias(out_col),
            "n_samples",
            "sum_v",
            (F.col("sum_v").cast("double") / F.col("n_samples").cast("double")).alias("avg_v"),
            "min_v",
            "max_v",
            "last_v",
            *[f"p{int(round(q * 100))}" for q in quantiles],
            *(["n_distinct"] if distinct_col else []),
        )
    )
