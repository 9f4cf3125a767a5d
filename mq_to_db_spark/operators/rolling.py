"""Rolling-window statistics and anomaly scores over tier series.

The reference's dashboard overlays its rate panels with moving averages
at panel query time (Grafana `timeShift`/`movingAverage`-style
transforms over the Prometheus series); this module makes that read-path
smoothing a first-class operator over any rolled-up tier table, plus the
standard z-score anomaly flag against a trailing baseline (the
"is this hour unusual vs the last day" check every metrics plane grows).

Semantics per ``(keys…, order_col)`` row:
  * ``roll_avg`` / ``roll_std``: mean / sample stddev over the trailing
    ``window`` rows INCLUDING the current row;
  * ``zscore``: the current value standardized against the PRECEDING
    ``window`` rows (current row excluded — an anomaly must not drag its
    own baseline); NULL when the baseline has <2 rows or zero variance;
  * ``is_anomaly``: |zscore| > threshold (NULL-safe: false when zscore
    is NULL).

Scale design: this operator consumes TIER rows (the rollup output),
never raw turns — a year of 1m buckets is ~526k rows per key, so the
keyed window (hash-partitioned by keys, one exchange) is small by
construction.  With ``keys=[]`` the single global series runs as one
window partition — acceptable for the same reason (tier rows are
bounded by the calendar, not by ingest volume); callers with thousands
of keyless series should pivot them into a key column instead.  All
results round to 6 decimals for cross-engine replay stability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from mq_to_db_spark.operators.rollup import bucket_col


def rolling_stats(
    df: DataFrame,
    keys: list[str],
    order_col: str = "bucket_start",
    value_col: str = "value",
    window: int = 24,
    threshold: float = 3.0,
) -> DataFrame:
    """Append ``roll_avg``, ``roll_std``, ``zscore``, ``is_anomaly``."""
    if window < 2:
        raise ValueError(f"window must be ≥ 2, got {window}")
    part = W.partitionBy(*[F.col(k) for k in keys]) if keys else W.partitionBy(F.lit(1))
    w_inc = part.orderBy(order_col).rowsBetween(-(window - 1), 0)
    w_prev = part.orderBy(order_col).rowsBetween(-window, -1)
    v = F.col(value_col)
    base_avg = F.avg(v).over(w_prev)
    base_std = F.stddev_samp(v).over(w_prev)
    z = F.when(base_std > 0, F.round((v - base_avg) / base_std, 6))
    return (
        df.withColumn("roll_avg", F.round(F.avg(v).over(w_inc), 6))
        .withColumn("roll_std", F.round(F.stddev_samp(v).over(w_inc), 6))
        .withColumn("zscore", z)
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(z) > F.lit(threshold), F.lit(False)),
        )
    )


def mad_outliers(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tier: str = "1d",
    k: float = 3.0,
) -> DataFrame:
    """Robust outlier detection per (keys, bucket): median / MAD instead
    of mean / stddev — the z-score flag above breaks down exactly when it
    matters (a fat outlier inflates its own baseline stddev; the median
    absolute deviation is immune to up to 50% contamination).

    Exactness discipline: both medians are **picked elements**, never
    interpolated — ``percentile_disc(0.5)`` semantics (the smallest value
    whose cumulative rank reaches 50%, i.e. the order statistic at
    ``ceil(n/2)``) — so every derived double (deviation = v − median,
    threshold = k·MAD) is one fixed-order IEEE op on values both engines
    hold bit-identically; a DuckDB oracle replays it exactly.  (Built-in
    ``median``/``percentile_approx`` interpolate or approximate — neither
    survives a hash compare.)

    Plan: both order-statistic picks are windows over the SAME
    ``(keys, bucket)`` hash — Catalyst plans the two sorts and the final
    aggregation into one exchange.  Returns per-bucket
    ``n_samples, med, mad, n_outliers``."""
    b_expr = bucket_col(tier, ts_col)
    part = [*keys, "bucket_start"]
    base = df.select(*keys, b_expr.alias("bucket_start"), F.col(value_col).alias("_v"))
    w_ord = W.partitionBy(*part).orderBy("_v")
    w_all = W.partitionBy(*part)
    n = F.count(F.lit(1)).over(w_all)
    # order statistic at ceil(n/2) == floor((n+1)/2): percentile_disc(0.5)
    med_pick = F.when(F.row_number().over(w_ord) == F.floor((n + 1) / 2), F.col("_v"))
    with_med = base.withColumn("_med_pick", med_pick).withColumn(
        "_med", F.max("_med_pick").over(w_all)
    )
    dev = with_med.withColumn("_dev", F.abs(F.col("_v") - F.col("_med")))
    w_dev = W.partitionBy(*part).orderBy("_dev")
    mad_pick = F.when(F.row_number().over(w_dev) == F.floor((n + 1) / 2), F.col("_dev"))
    with_mad = dev.withColumn("_mad_pick", mad_pick).withColumn(
        "_mad", F.max("_mad_pick").over(w_all)
    )
    return with_mad.groupBy(*part).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.min("_med").alias("med"),
        F.min("_mad").alias("mad"),
        F.count_if(F.col("_dev") > F.lit(k) * F.col("_mad")).alias("n_outliers"),
    )
