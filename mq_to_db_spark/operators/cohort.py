"""Cohort retention over an event stream.

"Of the users whose first event fell in week W, how many were active
again k weeks later?" — the entity-level counterpart of the uptime/
liveness interval operators (operators/intervals.py): those measure a
*series*' alive time, this measures a *population*'s return rate.
(Reference analogue: the per-consumer lifetime counters in
internal/metrics/metrics.go, aggregated by consumer start time.)

Scale shape: TWO key-partitioned aggregations, no joins wider than the
entity tier.  Pass 1 collapses raw events to the per-(entity, period)
activity tier — the only scan of the input.  Pass 2 derives each
entity's cohort (min period) with a window over that tier (entity-
partitioned, tier-sized) and counts distinct entities per
(cohort, offset).  Nothing ever shuffles raw events twice, and the
retention matrix is |cohorts| × |offsets| rows regardless of input
size.  Period arithmetic is on integer epoch-µs period starts,
so the DuckDB oracle replays it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from mq_to_db_spark.operators.timegrid import (
    duration_us, epoch_us, from_epoch_us, step_grid, step_start,
)


def cohort_retention(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
    max_offset: int | None = None,
) -> DataFrame:
    """Retention matrix ``(cohort_start, period_offset, n_active,
    cohort_size, retention_rate)``.

    ``cohort_start`` is the UTC timestamp of the entity's first active
    period (periods are epoch-aligned: weeks start on Thursdays, not on
    ``date_trunc``'s Mondays); ``period_offset`` counts periods since it
    (0 = the cohort period itself, so ``retention_rate`` at offset 0 is
    1.0 by construction).  ``max_offset`` truncates the matrix (reporting
    window); rates round to 6 for engine-independent hashes.
    """
    if period not in ("day", "week"):
        raise ValueError("period must be one of ['day', 'week']")
    plen = duration_us(f"1 {period}")

    # pass 1: raw events -> (entity, period start µs) activity tier
    # (µs-integer steps: bit-identical in any engine, unlike fractional
    # epoch seconds)
    active = (
        events.select(
            entity_col,
            step_start(epoch_us(F.col(ts_col)), plen).alias("_p"),
        )
        .groupBy(entity_col, "_p")
        .count()
        .drop("count")
    )
    # pass 2: cohort = min period per entity (window over the tier —
    # already partitioned by entity from pass 1's shuffle)
    w = W.partitionBy(entity_col)
    mat = active.withColumn("_p0", F.min("_p").over(w)).select(
        F.col("_p0"),
        F.expr(f"(_p - _p0) div {plen}").cast("int").alias("period_offset"),
        F.col(entity_col),
    )
    if max_offset is not None:
        mat = mat.where(F.col("period_offset") <= int(max_offset))
    cells = mat.groupBy("_p0", "period_offset").agg(
        F.countDistinct(entity_col).alias("n_active")
    )
    # cohort_size = offset-0 cell of the same cohort (every member is
    # active in their own first period) — a window over the matrix
    wc = W.partitionBy("_p0")
    return (
        cells.withColumn(
            "cohort_size",
            F.max(
                F.when(F.col("period_offset") == 0, F.col("n_active"))
            ).over(wc),
        )
        .select(
            from_epoch_us(F.col("_p0")).alias("cohort_start"),
            "period_offset",
            F.col("n_active").cast("long").alias("n_active"),
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.round(
                F.try_divide(F.col("n_active"), F.col("cohort_size")), 6
            ).alias("retention_rate"),
        )
    )


def stickiness(
    df: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 28,
) -> DataFrame:
    """DAU/MAU stickiness — cohort_retention's daily-pulse sibling:
    per calendar day, the share of the trailing-``window_days`` active
    population that was active TODAY (the canonical product-health
    ratio; 28 days is the industry's "MAU" so weekday seasonality
    cancels).

    Output per day in the corpus' [min, max] day extent (dense):
    ``(day_start, dau, mau, stickiness)`` — stickiness NULL only when
    ``mau`` is 0 (a day can only be dense-grid silent).

    Scale shape: raw events collapse FIRST to the distinct
    (entity, day) activity tier (one hash agg with partial dedup —
    the only scan of the input); DAU is a per-day count over that
    tier; MAU explodes each activity pair to the ``window_days``
    later days it keeps the entity "monthly active" for (fan-out
    window_days × |activity tier|, NOT × |events|) and counts exact
    distinct per day (two-phase distinct).  The dense day grid is a
    1-row-extent sequence explode (timegrid.step_grid).
    """
    day = F.date_trunc("day", F.col(ts_col))
    active = df.select(
        F.col(entity_col).alias("_e"), day.alias("_d")
    ).distinct()
    dau = active.groupBy(F.col("_d").alias("day_start")).agg(
        F.count(F.lit(1)).alias("dau")
    )
    contrib = active.select(
        "_e",
        F.explode(
            F.sequence(
                F.col("_d"),
                F.col("_d") + F.expr(f"INTERVAL {int(window_days) - 1} DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day_start"),
    )
    mau = contrib.groupBy("day_start").agg(
        F.count_distinct("_e").alias("mau")
    )
    grid = step_grid(df, "1 day", ts_col=ts_col, align="day", out_col="day_start")
    return (
        grid.join(dau, "day_start", "left")
        .join(mau, "day_start", "left")
        .select(
            "day_start",
            F.coalesce("dau", F.lit(0)).cast("long").alias("dau"),
            F.coalesce("mau", F.lit(0)).cast("long").alias("mau"),
            F.when(
                F.coalesce("mau", F.lit(0)) > 0,
                F.round(
                    F.coalesce("dau", F.lit(0)).cast("double")
                    / F.col("mau").cast("double"),
                    6,
                ),
            ).alias("stickiness"),
        )
    )
