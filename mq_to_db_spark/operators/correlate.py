"""Cross-series correlation over bucketed rollups.

The reference's dashboards plot metric families side by side (e.g.
consumed vs stored messages, mq-to-db.json "Processed Messages" panels)
and leave the correlation to the viewer's eye; this operator computes it:
Pearson correlation between two bucketed series, grouped by a coarser
window — e.g. "per day, how correlated are hourly click volume and hourly
error volume?".

Plan shape: ONE partial-aggregated groupBy builds both hourly series in a
single scan (conditional aggregation — no self-join of two filtered
scans), a zero-fill against the dense bucket grid (missing buckets are
real zeros for count series, and silently dropping them biases the
correlation), then a second small aggregation with Spark's built-in
``corr`` (co-moment form, numerically stable, partial-aggregable).  Two
shuffles total, both on tier-sized data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mq_to_db_spark.config import TIER_INTERVAL

from .timegrid import step_grid


def bucketed_pair_series(
    df: DataFrame,
    ts_col: str,
    tier: str,
    series_a: Column,
    series_b: Column,
    zero_fill: bool = True,
) -> DataFrame:
    """One scan → ``(bucket_start, a, b)``: both series as conditional
    aggregates of the same groupBy (``tier`` is a rollup tier key, e.g.
    ``"1h"``).  ``series_a`` / ``series_b`` are aggregate Columns (e.g.
    ``F.count_if(...)``).  With ``zero_fill``, buckets where neither
    series observed anything appear as (0, 0) — left-joined against the
    dense tier grid, the same grid the gap-fill operator generates."""
    from .rollup import bucket_col

    bucketed = (
        df.groupBy(bucket_col(tier, ts_col).alias("bucket_start"))
        .agg(series_a.alias("a"), series_b.alias("b"))
    )
    if not zero_fill:
        return bucketed
    grid = step_grid(bucketed, TIER_INTERVAL[tier], ts_col="bucket_start")
    return grid.join(bucketed, "bucket_start", "left").select(
        "bucket_start",
        F.coalesce("a", F.lit(0)).alias("a"),
        F.coalesce("b", F.lit(0)).alias("b"),
    )


def series_corr(
    pair: DataFrame,
    group_unit: str = "day",
    bucket_col: str = "bucket_start",
    a_col: str = "a",
    b_col: str = "b",
    out_col: str = "corr_ab",
) -> DataFrame:
    """Pearson correlation of the two series per ``date_trunc(group_unit)``
    of the fine bucket column, plus the sample count.  NULL when either
    series is constant within the group (zero variance) — ANSI ``corr``
    semantics.

    Computed from the five raw moments (n, Σa, Σb, Σab, Σa², Σb²) rather
    than the built-in ``corr``: for integer series the moments are EXACT
    (BIGINT partial aggregation, order-independent), and the final
    double-arithmetic formula is then bit-identical across engines —
    the built-ins' streaming co-moment updates are summation-order
    dependent in their last bits, which breaks hash-exact oracle
    comparison.  Same plan shape either way: one partial-aggregated
    hash aggregate."""
    a, b = F.col(a_col), F.col(b_col)
    g = pair.groupBy(F.date_trunc(group_unit, bucket_col).alias("group_start")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(a).alias("_sa"),
        F.sum(b).alias("_sb"),
        F.sum(a * b).alias("_sab"),
        F.sum(a * a).alias("_saa"),
        F.sum(b * b).alias("_sbb"),
    )
    n = F.col("_n").cast("double")
    sa, sb = F.col("_sa").cast("double"), F.col("_sb").cast("double")
    sab = F.col("_sab").cast("double")
    saa, sbb = F.col("_saa").cast("double"), F.col("_sbb").cast("double")
    cov = n * sab - sa * sb
    var_a = n * saa - sa * sa
    var_b = n * sbb - sb * sb
    corr = cov / F.nullif(F.sqrt(var_a) * F.sqrt(var_b), F.lit(0.0))
    return g.select(
        "group_start",
        F.col("_n").alias("n_buckets"),
        corr.alias(out_col),
    )


def xcorr_lags(
    pair: DataFrame,
    lags: list[int],
    bucket_col: str = "bucket_start",
    a_col: str = "a",
    b_col: str = "b",
    out_col: str = "xcorr",
) -> DataFrame:
    """Lead-lag cross-correlation: for each ``k`` in ``lags``, the
    Pearson correlation of ``(a_{t-k}, b_t)`` over the whole series —
    the "does A lead B by k buckets?" diagnostic (k > 0: A leads;
    k < 0: B leads; k = 0 degenerates to :func:`series_corr`).  Feed a
    zero-filled pair series (:func:`bucketed_pair_series`) — gaps bias
    the estimate.

    Plan: ONE window exchange computes every ``lag(a, k)`` column off
    the same sort (Catalyst collapses same-spec window functions into
    one Window node), ``stack`` unpivots to (lag, a_lagged, b) rows —
    a narrow projection, no extra shuffle — and the same exact-moment
    Pearson as :func:`series_corr` finishes with one tiny aggregate:
    BIGINT sums for integer series, one double formula, engine-
    bit-identical.  Negative lags are ``lead``s of ``a``, expressed as
    ``lag(a, k<0)`` which Spark defines as lead — same as SQL.

    The window is keyless ONLY over tier-series rows (calendar-bounded;
    the rolling.rolling_stats size argument) — at 10^12 raw turns this
    operator never sees the raw stream."""
    if not lags:
        raise ValueError("lags must name at least one lag")
    if len(set(lags)) != len(lags):
        raise ValueError(f"duplicate lags in {lags}")
    from pyspark.sql import window as W

    w = W.Window.orderBy(bucket_col)
    cols = pair
    for k in lags:
        cols = cols.withColumn(f"_alag_{k}".replace("-", "m"), F.lag(a_col, k).over(w))
    stack_args = ", ".join(
        f"{k}, `_alag_{str(k).replace('-', 'm')}`" for k in lags
    )
    unpivoted = cols.select(
        F.col(bucket_col),
        F.col(b_col),
        F.expr(f"stack({len(lags)}, {stack_args}) AS (lag, _a)"),
    ).where(F.col("_a").isNotNull())
    g = unpivoted.groupBy("lag").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_a").alias("_sa"),
        F.sum(b_col).alias("_sb"),
        F.sum(F.col("_a") * F.col(b_col)).alias("_sab"),
        F.sum(F.col("_a") * F.col("_a")).alias("_saa"),
        F.sum(F.col(b_col) * F.col(b_col)).alias("_sbb"),
    )
    n = F.col("_n").cast("double")
    sa, sb = F.col("_sa").cast("double"), F.col("_sb").cast("double")
    sab = F.col("_sab").cast("double")
    saa, sbb = F.col("_saa").cast("double"), F.col("_sbb").cast("double")
    cov = n * sab - sa * sb
    var_a = n * saa - sa * sa
    var_b = n * sbb - sb * sb
    corr = cov / F.nullif(F.sqrt(var_a) * F.sqrt(var_b), F.lit(0.0))
    return g.select(
        "lag", F.col("_n").alias("n_pairs"), corr.alias(out_col)
    )


def autocorr(
    series: DataFrame,
    lag: int = 1,
    group_unit: str = "day",
    bucket_col: str = "bucket_start",
    v_col: str = "v",
    out_col: str = "autocorr",
) -> DataFrame:
    """Lag-``k`` autocorrelation of one bucketed series per
    ``date_trunc(group_unit)`` group — the seasonality/persistence
    diagnostic (is this hour's volume predicted by ``k`` hours ago?).

    Pairs ``(v_{t-k}, v_t)`` are formed WITHIN each group by a lag
    window partitioned on the group (never keyless — no single-partition
    sort), then fed to the same exact-moment Pearson as
    :func:`series_corr`: for integer series all six sums are BIGINT and
    order-independent, and the one double formula at the end replays
    bit-identically on any engine.  Feed a zero-filled series (see
    :func:`bucketed_pair_series` / the tier grid) — dropped empty
    buckets bias the estimate.  Two exchanges: the group-partitioned
    window, then the tiny per-group aggregate."""
    from pyspark.sql import window as W

    grp = F.date_trunc(group_unit, F.col(bucket_col))
    w = W.Window.partitionBy(grp).orderBy(bucket_col)
    pairs = (
        series.withColumn("_prev", F.lag(v_col, lag).over(w))
        .where(F.col("_prev").isNotNull())
        .select(
            grp.alias("group_start"),
            F.col("_prev").alias("a"),
            F.col(v_col).alias("b"),
        )
    )
    return series_corr(
        pairs.withColumnRenamed("group_start", "bucket_start"),
        group_unit=group_unit,
        out_col=out_col,
    ).withColumnRenamed("n_buckets", "n_pairs")
