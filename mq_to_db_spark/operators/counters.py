"""Reset-aware counter semantics: ``increase`` / ``rate`` per tier bucket.

The reference exposes its throughput as *monotonic Prometheus counters*
(/root/reference/internal/metrics/metrics.go:95-183) and its dashboard
derives traffic from them with ``rate()``/``increase()``
(docker-compose/grafana/dashboards/mq-to-db.json:239) — which must
handle **counter resets**: a consumer restart zeroes the counter, and a
naive ``max - min`` per window under-counts (goes negative).  Prometheus
defines the fix: walk samples in time order; a sample lower than its
predecessor means the counter restarted from zero, so that sample's whole
value is the contribution.  This module promotes exactly that semantic to
a first-class batch operator over any ``(series keys, ts, value)`` table:

    increase(bucket) = Σ over samples s in bucket, in series order:
        v(s) - v(prev)   if v(s) >= v(prev)     (monotonic step)
        v(s)             if v(s) <  v(prev)     (reset: restarted at 0)
        0                if s is the series' first sample ever
    rate_per_sec(bucket) = increase / tier_seconds

(Discrete-sum semantics — no Prometheus window-edge extrapolation: the
engine's tiers are tumbling buckets over the complete sample stream, not
a scrape sliding window, so the sum is exact rather than estimated.)

Scale design:
  * keyed path: ONE exchange — the lag window hash-partitions on the
    series keys, and the following (keys, bucket) aggregation reuses that
    partitioning (``ClusteredDistribution(keys, bucket)`` is satisfied by
    ``HashPartitioning(keys)``), so Catalyst plans window + agg back to
    back with a single shuffle (plan-asserted in tests/test_counters.py);
  * keyless path (one global series): the naive plan is a single-partition
    global window — every sample through one task.  Instead the lag is
    rangewin.range_lag, the range-partitioned prefix scan: lag runs per
    range bucket on ts at full parallelism, and each bucket's first
    sample takes its predecessor from a broadcast spine carry;
  * contributions are computed in the value column's own type — pass
    integer-scaled counters for bit-exact cross-engine replay (the
    contract query scales doubles to micro-units first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from mq_to_db_spark.config import TIER_SECONDS
from mq_to_db_spark.operators.rangewin import range_lag, range_running_sum
from mq_to_db_spark.operators.rollup import bucket_col
from mq_to_db_spark.operators.timegrid import epoch_us


def _contrib(value, prev):
    """Per-sample reset-aware contribution (Prometheus increase step)."""
    return (
        F.when(prev.isNull(), F.lit(0).cast("long") * value)  # type-preserving 0
        .when(value >= prev, value - prev)
        .otherwise(value)
    )


def _series(keys: list[str], ts_col: str, tiebreak: tuple[str, ...]):
    return W.partitionBy(*keys).orderBy(ts_col, *tiebreak)


def _with_prev(df, keys, ts_col, value_col, tiebreak, n_buckets) -> DataFrame:
    """``df`` + ``_prev``, the previous sample's value in its series: a
    lag window per key, or rangewin.range_lag for one keyless series."""
    if not keys:
        return range_lag(df, ts_col, value_col, "_prev", tiebreak, n_buckets)
    return df.withColumn("_prev", F.lag(value_col).over(_series(keys, ts_col, tiebreak)))


def counter_increase(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tier: str = "1h",
    tiebreak: tuple[str, ...] = (),
    n_buckets: int | None = None,
) -> DataFrame:
    """Reset-aware counter ``increase`` and ``rate_per_sec`` per
    ``(keys…, bucket_start)`` tier bucket.

    ``tiebreak`` disambiguates equal timestamps within a series (pass a
    unique sample id for deterministic results on duplicate-ts data).
    With ``keys=[]`` the whole input is one series and the lag runs
    range-partitioned (see module docstring) instead of on a single
    global window partition.
    """
    value = F.col(value_col)
    staged = _with_prev(df, keys, ts_col, value_col, tiebreak, n_buckets)
    contrib = _contrib(value, F.col("_prev"))
    bucket = bucket_col(tier, ts_col)
    out = (
        staged.select(*keys, bucket.alias("bucket_start"), contrib.alias("_inc"))
        .groupBy(*keys, "bucket_start")
        .agg(
            F.sum("_inc").alias("increase"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )
    return out.withColumn(
        "rate_per_sec",
        F.round(F.col("increase") / F.lit(TIER_SECONDS[tier]), 6),
    )


def counter_resets(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tier: str = "1h",
    tiebreak: tuple[str, ...] = (),
    n_buckets: int | None = None,
) -> DataFrame:
    """Prometheus ``resets()``: count of samples strictly below their
    predecessor per ``(keys…, bucket_start)`` — the restart detector a
    counter plane pairs with :func:`counter_increase` (a reset burst on
    one series means the producer is crash-looping, not busy).  Same
    single-exchange lag shape as increase; the bucket agg reuses the
    lag window's hash partitioning."""
    staged = _with_prev(df, keys, ts_col, value_col, tiebreak, n_buckets)
    is_reset = (
        F.col("_prev").isNotNull() & (F.col(value_col) < F.col("_prev"))
    ).cast("long")
    bucket = bucket_col(tier, ts_col)
    return (
        staged.select(*keys, bucket.alias("bucket_start"), is_reset.alias("_r"))
        .groupBy(*keys, "bucket_start")
        .agg(
            F.sum("_r").alias("n_resets"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )


def rate_extrapolated(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tier: str = "1h",
    is_counter: bool = True,
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Prometheus ``rate()``/``increase()`` with WINDOW-EDGE EXTRAPOLATION
    — the estimator Prometheus actually serves (``extrapolatedRate``,
    prometheus/promql/functions.go), in contrast to
    :func:`counter_increase`'s exact discrete sum.

    Per ``(keys…, bucket)`` window ``[rangeStart, rangeEnd)``:

    * ``result`` = last − first + Σ reset corrections, pairs WITHIN the
      bucket (the bucket's first sample is the baseline, not a step);
    * the sampled interval ``[firstTs, lastTs]`` is extrapolated toward
      each window edge: fully when the gap to the edge is under 1.1× the
      average sample spacing, by half an average spacing otherwise;
    * counters additionally clamp the start extrapolation at the point
      the counter (linearly) would have been zero —
      ``durationToZero = sampledInterval · firstValue / result``;
    * buckets with fewer than 2 samples (or zero sampled interval) are
      NULL — Prometheus returns no point there.

    ``increase_ext`` is in the value column's units, ``rate_ext`` per
    second.  All durations are exact epoch-µs BIGINTs; the extrapolation
    factor is IEEE-double arithmetic in a FIXED operation order so a SQL
    replay of the same expression tree hash-matches bit-for-bit (pass
    integer-scaled counters for a bit-exact ``result``).

    Scale design: ONE exchange — the within-bucket lag window partitions
    on ``(keys…, bucket)`` and the aggregation groups on the same keys,
    so Catalyst plans window + agg back to back on one shuffle; keyless
    inputs still parallelize (time buckets ARE the partition key).
    """
    order = [F.col(ts_col), *[F.col(t) for t in tiebreak]]
    value = F.col(value_col)
    bucket = bucket_col(tier, ts_col)
    staged = df.withColumn("_bkt", bucket)
    w = W.partitionBy(*[F.col(k) for k in keys], F.col("_bkt")).orderBy(*order)
    staged = staged.withColumn("_prev", F.lag(value_col).over(w))
    us = epoch_us(F.col(ts_col))
    order_key = F.struct(
        F.col(ts_col).alias("t"), *[F.col(t) for t in tiebreak]
    )
    agg = (
        staged.select(
            *keys,
            F.col("_bkt").alias("bucket_start"),
            _contrib(value, F.col("_prev")).alias("_inc"),
            us.alias("_us"),
            order_key.alias("_ok"),
            value.alias("_v"),
        )
        .groupBy(*keys, "bucket_start")
        .agg(
            F.sum("_inc").alias("_res"),
            F.count(F.lit(1)).alias("n_samples"),
            F.min("_us").alias("_first_us"),
            F.max("_us").alias("_last_us"),
            F.min_by("_v", F.col("_ok")).alias("_first_v"),
        )
    )
    tier_us = TIER_SECONDS[tier] * 1_000_000
    rs_us = epoch_us(F.col("bucket_start"))
    re_us = rs_us + F.lit(tier_us)
    n = F.col("n_samples")
    res_d = F.col("_res").cast("double")
    sampled = F.col("_last_us") - F.col("_first_us")
    sampled_d = sampled.cast("double")
    avg_dur = sampled_d / (n - F.lit(1)).cast("double")
    dts_d = (F.col("_first_us") - rs_us).cast("double")
    dte_d = (re_us - F.col("_last_us")).cast("double")
    dtz = sampled_d * (F.col("_first_v").cast("double") / res_d)
    dts_eff = (
        F.when(
            F.lit(is_counter)
            & (F.col("_res") > 0)
            & (F.col("_first_v") >= 0),
            F.least(dts_d, dtz),
        ).otherwise(dts_d)
    )
    thr = avg_dur * F.lit(1.1)
    ext = (
        sampled_d
        + F.when(dts_eff < thr, dts_eff).otherwise(avg_dur / F.lit(2.0))
        + F.when(dte_d < thr, dte_d).otherwise(avg_dur / F.lit(2.0))
    )
    inc = res_d * (ext / sampled_d)
    valid = (n >= 2) & (sampled > 0)
    return agg.select(
        *keys,
        "bucket_start",
        "n_samples",
        F.when(valid, inc).alias("increase_ext"),
        F.when(valid, inc / F.lit(float(TIER_SECONDS[tier]))).alias(
            "rate_ext"
        ),
    )


def adjust_resets(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: tuple[str, ...] = (),
    out_col: str = "adjusted",
    n_buckets: int | None = None,
) -> DataFrame:
    """Counter reset adjustment: rebuild the TRUE monotonic cumulative
    series from a resetting counter (the Thanos/M3 "counter adjustment"
    that long-range ``increase`` is defined against)::

        adjusted(t) = v(t) + Σ over resets s ≤ t of v_prev(s)

    i.e. every restart's lost progress (the predecessor's value) is
    folded into a running offset, so downstream math can treat the
    series as never having reset.  Output = input rows + ``out_col``;
    per-series non-decreasing by construction.

    Plan shape mirrors :func:`counter_increase`: keyed → lag + running
    sum over the SAME window partitioning (one exchange, both windows
    planned back to back); keyless → rangewin.range_lag then
    rangewin.range_running_sum — never a single global window.
    Offsets accumulate in the value column's own type (pass
    integer-scaled counters for bit-exact cross-engine replay).
    """
    value, prev = F.col(value_col), F.col("_prev")
    zero = F.lit(0).cast("long") * value  # type-preserving 0
    off = F.when(prev.isNotNull() & (value < prev), prev).otherwise(zero)
    staged = _with_prev(df, keys, ts_col, value_col, tiebreak, n_buckets)
    if keys:
        w_cum = _series(keys, ts_col, tiebreak).rowsBetween(W.unboundedPreceding, 0)
        return staged.withColumn(out_col, value + F.sum(off).over(w_cum)).drop("_prev")
    summed = range_running_sum(
        staged.withColumn("_off", off).drop("_prev"), ts_col, "_off",
        tiebreak=tiebreak, out_col="_cumoff", n_buckets=n_buckets,
    )
    return summed.withColumn(out_col, value + F.col("_cumoff")).drop(
        "_off", "_cumoff"
    )
