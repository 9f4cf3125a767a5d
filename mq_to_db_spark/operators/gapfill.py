"""Gap-fill via sequence-join against a generated time grid (SURVEY.md §2 C9).

The reference's rate series has gaps when a scrape is absent (Prometheus
side); the north_rule makes gap handling explicit: every (series, bucket)
cell of the tier grid must exist, empty buckets filled per policy.

Scale design:
  * the grid is ``sequence(min_bucket, max_bucket, tier) + explode``
    (:func:`~mq_to_db_spark.operators.timegrid.step_grid`) — generated,
    never materialized as input data;
  * per-series grids: the series→(first,last) extent table is tiny relative
    to raw (one row per series), so the grid build is an agg over the
    rollup (already tiny) followed by explode;
  * the join grid←rollup is executed as a **broadcast** of the rollup-side
    when small, else a plain shuffle join on (series, bucket) where both
    sides are already tier-bucketed → AQE coalesces; no raw data touched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mq_to_db_spark.config import TIER_INTERVAL
from mq_to_db_spark.operators.timegrid import epoch_us, step_grid

#: columns filled with 0 on generated (empty) buckets under the "zero"
#: policy; all other stat columns stay NULL (min/max/avg of an empty
#: bucket is undefined, matching the pandas/DuckDB oracle convention).
_ZERO_FILL = ("n_turns", "token_sum", "text_len_sum", "n_user", "n_assistant", "n_system", "n_tool")


def gapfill(
    df_rollup: DataFrame,
    tier: str,
    keys: list[str] | None = None,
    policy: str = "zero",
    global_extent: bool = True,
) -> DataFrame:
    """Left-join the dense grid against the rollup; fill per ``policy``.

    policy="zero": count-like columns → 0 on empty buckets; stats null.
    policy="null": all columns null on empty buckets.
    ``global_extent``: every series spans the rollup's one [min, max]
    range (the dashboard convention); False: each series spans its own
    first..last bucket.
    """
    keys = list(keys or [])
    grid = step_grid(
        df_rollup, TIER_INTERVAL[tier], keys, "bucket_start", global_extent=global_extent
    )
    join_cols = ["bucket_start", *keys]
    filled = grid.join(df_rollup, join_cols, "left")
    if policy == "zero":
        for c in _ZERO_FILL:
            if c in filled.columns:
                filled = filled.withColumn(c, F.coalesce(F.col(c), F.lit(0).cast("long")))
    elif policy != "null":
        raise ValueError(f"unknown gapfill policy: {policy}")
    return filled


def gapfill_interpolate_linear(
    df_rollup: DataFrame,
    tier: str,
    value_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Gap-fill with linear interpolation (C9 interpolation policy, the
    TimescaleDB ``interpolate()`` analogue): a generated bucket between
    two observed buckets gets the time-weighted blend of their values;
    leading/trailing gaps (no neighbor on one side) stay NULL.  Two
    window passes over tier-sized data (prev/next observation carry), no
    raw data touched."""
    from pyspark.sql import Window as W

    filled = gapfill(df_rollup, tier, keys, policy="null")
    part = list(keys or [])
    t = epoch_us(F.col("bucket_start")).cast("double")
    obs = F.when(
        F.col(value_col).isNotNull(),
        F.struct(F.col(value_col).cast("double").alias("v"), t.alias("t")),
    )
    if part:
        base = W.partitionBy(*part)
        w_prev = base.orderBy("bucket_start").rowsBetween(W.unboundedPreceding, 0)
        w_next = base.orderBy("bucket_start").rowsBetween(0, W.unboundedFollowing)
        prev = F.last(obs, ignorenulls=True).over(w_prev)
        nxt = F.first(obs, ignorenulls=True).over(w_next)
    else:
        # keyless: a global window would serialize the whole tier through
        # one task — use the range-partitioned LOCF (forward for prev,
        # reverse for next) with broadcast boundary carry instead
        from mq_to_db_spark.operators.rangewin import range_locf

        filled = filled.withColumn("_obs", obs)
        filled = range_locf(filled, "bucket_start", "_obs", out_col="_prev")
        filled = range_locf(
            filled, "bucket_start", "_obs", out_col="_next", reverse=True
        )
        prev, nxt = F.col("_prev"), F.col("_next")
    frac = F.try_divide(t - prev["t"], nxt["t"] - prev["t"])
    interp = F.when(
        F.col(value_col).isNotNull(), F.col(value_col).cast("double")
    ).otherwise(prev["v"] + (nxt["v"] - prev["v"]) * frac)
    return filled.withColumn(value_col, interp).drop("_obs", "_prev", "_next")


def gapfill_interpolate_last(
    df_rollup: DataFrame,
    tier: str,
    value_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Gap-fill with last-observation-carried-forward (gauge semantics,
    C6/C9 null-carry): generated buckets inherit the most recent observed
    value per series.  `last(value, ignorenulls)` over an unbounded
    preceding window ordered by bucket — one window shuffle per series,
    executed after the grid join so it runs on tier-sized data only."""
    from pyspark.sql import Window as W

    keys = list(keys or [])
    filled = gapfill(df_rollup, tier, keys, policy="null")
    if keys:
        w = (
            W.partitionBy(*keys)
            .orderBy("bucket_start")
            .rowsBetween(W.unboundedPreceding, 0)
        )
        return filled.withColumn(
            value_col, F.last(value_col, ignorenulls=True).over(w)
        )
    # keyless: range-partitioned LOCF instead of a one-task global window
    from mq_to_db_spark.operators.rangewin import range_locf

    return range_locf(filled, "bucket_start", value_col)
