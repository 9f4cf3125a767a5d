"""Time-weighted aggregates over irregularly-sampled gauges.

TimescaleDB-hyperfunction-style operators the reference's Grafana
dashboards approximate with fixed-interval scrapes (the reference samples
every metric on a 5 s scrape, docker-compose/prometheus/prometheus.yml:10,
so a plain AVG is implicitly time-weighted; transcript/event streams are
irregular, so the weighting must be explicit):

  * :func:`time_weighted_avg` — LOCF-weighted mean per (keys, bucket):
    each sample's value is weighted by the time it remained the latest
    observation, clamped to the bucket end.  The within-bucket variant
    (no carry across buckets) keeps the operator a pure two-shuffle
    plan: ONE window shuffle on (keys, bucket) for the ``lead()`` and
    one partial-aggregated groupBy that reuses the same partitioning —
    no global state, embarrassingly parallel at any scale.
  * :func:`state_durations` — duration spent in each categorical state
    per key: a state ends when the key's next event arrives (the last
    event is open-ended and contributes nothing).  One window shuffle on
    the key; per-key sequences are bounded (hot keys bounded by their
    event counts), so no skew beyond what the rollup stage already
    handles.

Both are exactly reproducible in ANSI SQL (``lead()`` + arithmetic), so
they carry full DuckDB oracles in the driver contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mq_to_db_spark.operators.timegrid import duration_us, epoch_us, from_epoch_us, step_start


def _bucket_start(df: DataFrame, ts_col: str, step_us: int) -> Column:
    """The tumbling ``step_us`` bucket start of ``ts_col``, of the same
    timestamp type as ``ts_col`` (a TIMESTAMP stays one, NTZ stays NTZ)."""
    ltz = isinstance(df.schema[ts_col].dataType, T.TimestampType)
    return from_epoch_us(step_start(epoch_us(F.col(ts_col)), step_us), ltz=ltz)


def time_weighted_avg(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "1 hour",
    tiebreak: list[str] | None = None,
    out_col: str = "twa",
    exact: bool = True,
) -> DataFrame:
    """Per (keys, bucket) time-weighted average of a gauge, LOCF
    weighting: sample *i* holds from ``ts_i`` until the next sample in
    the same (keys, bucket) or the bucket end, whichever comes first;
    ``twa = Σ v_i·w_i / Σ w_i``.  The integral starts at the bucket's
    FIRST sample (no carry-in from the previous bucket — the pure
    within-bucket semantics, which keeps every bucket independently
    computable and the operator stateless across tiers).

    Duplicate-``ts`` samples are ordered by ``tiebreak`` (earlier ones
    get zero weight — deterministic, and mirrored in the SQL oracle).
    Output: keys + ``bucket_start`` + ``n_samples`` + ``out_col``.

    ``exact=True`` (default) accumulates the integral as
    ``DECIMAL(20,6)-value × BIGINT-µs`` — exact integer-scaled
    arithmetic, so the result is bit-identical across summation orders
    and engines (what the hash-exact DuckDB oracle requires; the
    per-bucket weight total is bounded by the bucket width, so the
    decimal cannot overflow).  ``exact=False`` keeps the pure-double
    fast path (one fewer widening per row) when reproducibility down to
    the last bit is not needed.
    """
    tiebreak = tiebreak or []
    step = duration_us(bucket)
    b = _bucket_start(df, ts_col, step).alias("bucket_start")
    # a sample with no ts holds no time: dropped, not a NULL bucket
    tagged = df.filter(F.col(ts_col).isNotNull()).select(
        *keys, F.col(ts_col), F.col(value_col), *tiebreak, b
    )
    w = W.partitionBy(*keys, "bucket_start").orderBy(ts_col, *tiebreak)
    bucket_end_us = epoch_us(F.col("bucket_start")) + F.lit(step)
    hold_until_us = F.coalesce(epoch_us(F.lead(ts_col).over(w)), bucket_end_us)
    weight_us = hold_until_us - epoch_us(F.col(ts_col))
    weighted = tagged.withColumn("_w_us", weight_us)
    v = F.col(value_col)
    if exact:
        v = v.cast("decimal(20,6)")
    integral = F.sum(v * F.col("_w_us")).cast("double")
    return (
        weighted.groupBy(*keys, "bucket_start")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            (integral / F.sum("_w_us").cast("double")).alias(out_col),
        )
    )


def state_durations(
    df: DataFrame,
    key: str,
    ts_col: str = "ts",
    state_col: str = "event_type",
    tiebreak: list[str] | None = None,
    bucket: str | None = "1 day",
) -> DataFrame:
    """Duration spent in each categorical state, per bucket of the state's
    START time: a key enters ``state_col`` at each event and leaves when
    its next event arrives (``lead(ts)`` over the key).  The key's last
    event is open-ended and is excluded (no closing edge — same choice
    TimescaleDB's ``state_agg`` makes for a still-open state).  A state
    spanning a bucket edge is attributed wholly to the bucket it started
    in (documented, and mirrored in the oracle).

    Output: ``bucket_start`` (omitted when ``bucket`` is None) +
    ``state_col`` + ``n_entries`` + ``duration_sec``.

    Durations are accumulated as exact BIGINT microseconds and divided
    by 1e6 once per group — order-independent, hash-exact vs the oracle
    (a per-row double sum is not).
    """
    tiebreak = tiebreak or []
    w = W.partitionBy(key).orderBy(ts_col, *tiebreak)
    nxt = F.lead(ts_col).over(w)
    dur_us = epoch_us(nxt) - epoch_us(F.col(ts_col))
    spans = df.withColumn("_dur_us", dur_us).filter(F.col("_dur_us").isNotNull())
    group = [state_col]
    if bucket is not None:
        spans = spans.withColumn("bucket_start", _bucket_start(df, ts_col, duration_us(bucket)))
        group = ["bucket_start", state_col]
    return spans.groupBy(*group).agg(
        F.count(F.lit(1)).alias("n_entries"),
        (F.sum("_dur_us") / F.lit(1_000_000.0)).alias("duration_sec"),
    )
