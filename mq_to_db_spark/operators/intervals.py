"""Interval↔bucket attribution: heartbeat liveness and carried LOCF integrals.

Two TimescaleDB-hyperfunction analogues the round-2 surface still lacked,
both built on one shared primitive — **clip an interval table to tumbling
tier buckets** — expressed as a Catalyst ``sequence``+``explode`` over
exact BIGINT epoch-microsecond arithmetic
(:mod:`mq_to_db_spark.operators.timegrid`: every per-bucket weight is an
integer µs, so sums are order-independent and the DuckDB oracles
hash-match bit-for-bit).

  * :func:`heartbeat_agg` — ``heartbeat_agg``/uptime analogue: each
    heartbeat keeps its key live for ``tolerance``; overlapping covers
    merge into liveness islands (gaps-and-islands: one ``lag`` window +
    running sum, the :func:`~mq_to_db_spark.operators.sessionize.
    with_session_id` pattern); islands are clipped to buckets for exact
    per-bucket uptime seconds.  The reference only ever exposes liveness
    as a point-in-time ``up`` gauge scraped every 5 s
    (/root/reference/docker-compose/prometheus/prometheus.yml:10); this
    is the historical-table form of the same question.
  * :func:`interpolated_time_weighted_avg` — the *carried* variant of
    :func:`~mq_to_db_spark.operators.timeweight.time_weighted_avg`
    (TimescaleDB's ``interpolated_average``): a sample's LOCF hold
    interval runs to the key's next sample even across bucket edges, so
    a bucket with no samples still averages the carried value instead of
    going NULL.  The hold of a key's last sample is clamped to the end
    of the bucket containing it (no unbounded extrapolation).

Scale design shared by both: ONE window shuffle on the key for the
``lag``/``lead`` (per-key sequences bounded, same skew envelope as the
rollup stage), the island/hold groupBy reuses that hash partitioning
(keys ⊂ grouping keys ⇒ no second exchange), then the bucket explode is
a projection whose output cardinality is the dense-series size — exactly
the gap-fill materialization cost — followed by one partial-aggregated
groupBy on (keys, bucket).  No per-row Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from mq_to_db_spark.operators.timegrid import (
    duration_us, epoch_us, from_epoch_us, span_steps, step_grid, step_start,
)


def explode_bucket_overlaps(
    df: DataFrame,
    start_col: str,
    end_col: str,
    bucket: str,
    out_bucket: str = "bucket_start",
    out_us: str = "_ov_us",
) -> DataFrame:
    """One output row per (input interval × tumbling bucket it overlaps),
    carrying the exact overlap in BIGINT µs.  Intervals are half-open
    ``[start, end)``; empty/negative intervals are dropped.  Buckets
    align to the epoch origin, matching ``F.window``/``date_trunc``.

    This is a projection + ``explode`` — no shuffle; output rows =
    Σ buckets-spanned, i.e. the dense-series cardinality downstream
    aggregations need anyway."""
    width = duration_us(bucket)
    s_us = epoch_us(F.col(start_col))
    e_us = epoch_us(F.col(end_col))
    live = df.filter(e_us > s_us).withColumn("_s_us", s_us).withColumn("_e_us", e_us)
    # a bucket [b, b + width) overlaps [s, e) exactly when s - width < b < e
    exploded = live.withColumn(
        "_b_us", span_steps(F.col("_s_us") - (width - 1), F.col("_e_us"), width)
    )
    overlap = F.least(F.col("_e_us"), F.col("_b_us") + width) - F.greatest(
        F.col("_s_us"), F.col("_b_us")
    )
    return (
        exploded.withColumn(out_bucket, from_epoch_us(F.col("_b_us")))
        .withColumn(out_us, overlap)
        .drop("_s_us", "_e_us", "_b_us")
    )


def heartbeat_agg(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    tolerance: str = "10 minutes",
    bucket: str = "1 hour",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Per (keys, bucket) uptime from a heartbeat stream: a heartbeat at
    ``t`` keeps the key live over ``[t, t + tolerance)``; covers whose
    gap is ≤ tolerance merge into one liveness island (so the union of
    covers, exactly).  Output: keys + ``bucket_start`` +
    ``n_live_intervals`` (islands overlapping the bucket) +
    ``uptime_sec`` (exact µs, rounded to 6 dp once per group).
    """
    tiebreak = tiebreak or []
    tol = duration_us(tolerance)
    w = W.partitionBy(*keys).orderBy(ts_col, *tiebreak)
    prev_us = F.lag(epoch_us(F.col(ts_col))).over(w)
    new_island = F.when(
        prev_us.isNull() | (epoch_us(F.col(ts_col)) - prev_us > tol), 1
    ).otherwise(0)
    tagged = df.withColumn(
        "_iid",
        F.sum(new_island).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    islands = tagged.groupBy(*keys, "_iid").agg(
        F.min(ts_col).alias("_is"),
        from_epoch_us(epoch_us(F.max(ts_col)) + tol).alias("_ie"),
    )
    clipped = explode_bucket_overlaps(islands, "_is", "_ie", bucket)
    return clipped.groupBy(*keys, "bucket_start").agg(
        F.count(F.lit(1)).alias("n_live_intervals"),
        F.round(F.sum("_ov_us") / F.lit(1_000_000.0), 6).alias("uptime_sec"),
    )


def interpolated_time_weighted_avg(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    bucket: str = "1 hour",
    tiebreak: list[str] | None = None,
    out_col: str = "twa_interp",
    exact: bool = True,
) -> DataFrame:
    """LOCF time-weighted average with carry across bucket edges: sample
    *i* holds ``[ts_i, next_ts_i)`` where *next* is the key's next sample
    under the total ``(ts, *tiebreak)`` order — in ANY bucket — and the
    key's last sample is clamped to the end of its own bucket.  Every
    bucket a hold interval touches gets the exact µs-weighted
    contribution, so a bucket between two sparse samples reports the
    carried value rather than NULL (TimescaleDB ``interpolated_average``
    semantics).

    Output: keys + ``bucket_start`` + ``n_samples`` (samples *observed*
    in the bucket with positive hold; 0 for carried-only buckets) +
    ``out_col``.  ``exact=True`` accumulates DECIMAL(20,6)×BIGINT-µs —
    order-independent, hash-exact vs the DuckDB oracle.
    """
    tiebreak = tiebreak or []
    width = duration_us(bucket)
    w = W.partitionBy(*keys).orderBy(ts_col, *tiebreak)
    own_bucket_end = step_start(epoch_us(F.col(ts_col)), width) + width
    hold_end_us = F.coalesce(epoch_us(F.lead(ts_col).over(w)), own_bucket_end)
    spans = df.select(
        *keys,
        F.col(ts_col),
        F.col(value_col),
        from_epoch_us(hold_end_us).alias("_hold_end"),
    )
    clipped = explode_bucket_overlaps(spans, ts_col, "_hold_end", bucket)
    v = F.col(value_col)
    if exact:
        v = v.cast("decimal(20,6)")
    integral = F.sum(v * F.col("_ov_us")).cast("double")
    is_sample = F.col(ts_col) >= F.col("bucket_start")
    return clipped.groupBy(*keys, "bucket_start").agg(
        F.sum(is_sample.cast("long")).alias("n_samples"),
        F.round(integral / F.sum("_ov_us").cast("double"), 6).alias(out_col),
    )


def gap_stats(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    tier: str = "1d",
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Inter-sample gap analysis per (keys, bucket): the silence between
    consecutive samples of a series — the question behind every
    dead-sensor / stalled-consumer alert (the reference's readiness
    probe watches exactly this: time since the last delivery).

    Each sample's gap is the µs distance to its series-PREDECESSOR
    (BIGINT — exact on any engine), attributed to the later sample's
    bucket (the bucket that *observed* the silence end).  The series'
    first-ever sample has no gap.  Returns per-bucket
    ``n_samples, max_gap_us, avg_gap_us``.

    ``avg_gap_us`` rounds to 6 dp in EXACT integer arithmetic (the
    micro-unit idiom, SURVEY.md §float-sums): ``round(sum/cnt, 6)`` on
    a double can land exactly ON a .5×10⁻⁶ boundary for integer-ratio
    inputs, where Spark's BigDecimal HALF_UP and DuckDB's multiply-
    round-divide disagree (caught by ``tools/contract.py --mode strict``
    at sf0.01).  Split ``sum = q·cnt + r`` so the half-up micro rounding
    ``(2·r·10⁶ + cnt) div (2·cnt)`` never overflows (r < cnt; gaps are
    non-negative), then one deterministic int→double conversion and
    division by 1e6.  Bound: the micro-unit value must fit a BIGINT, so
    a bucket whose mean gap reaches 2⁶³/10⁶ µs (~106.7 days) gets a
    NULL ``avg_gap_us`` (``max_gap_us`` stays exact), never an abort.

    Plan: one exchange — the lag window hash-partitions on the series
    keys; the (keys, bucket) aggregation reuses that partitioning."""
    from mq_to_db_spark.operators.rollup import bucket_col

    w = W.partitionBy(*keys).orderBy(ts_col, *tiebreak)
    ts_us = epoch_us(F.col(ts_col))
    gap = ts_us - F.lag(ts_us).over(w)
    gsum, gcnt = F.sum("_gap_us"), F.count("_gap_us")
    return (
        df.withColumn("_gap_us", gap)
        .groupBy(*keys, bucket_col(tier, ts_col).alias("bucket_start"))
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.max("_gap_us").alias("max_gap_us"),
            gsum.alias("_gsum"),
            gcnt.alias("_gcnt"),
        )
        .withColumn(
            "avg_gap_us",
            F.when(
                F.col("_gcnt") > 0,
                F.try_add(
                    F.try_multiply(F.expr("_gsum DIV _gcnt"), F.lit(1_000_000)),
                    F.expr(
                        "(2 * (_gsum % _gcnt) * 1000000 + _gcnt)"
                        " DIV (2 * _gcnt)"
                    ),
                ).cast("double")
                / F.lit(1e6),
            ),
        )
        .drop("_gsum", "_gcnt")
    )


def staleness(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    tier: str = "1h",
) -> DataFrame:
    """Prometheus-staleness view over the dense tier grid: for EVERY
    (series, bucket) — including buckets with no samples — how old is
    the freshest sample as of the bucket's end?

    Output per grid point: ``n_samples`` (0 for silent buckets),
    ``absent`` (PromQL ``absent_over_time`` — true when the bucket saw
    nothing), and ``staleness_us`` = bucket_end − most recent sample ts
    at or before bucket end (exact BIGINT µs; NULL before a series'
    first sample).  A dashboard reads ``staleness_us > tolerance`` as
    the dead-series signal — the grid-aligned complement of
    :func:`heartbeat_agg` (which measures uptime inside buckets) and
    :func:`gap_stats` (inter-sample distances, samples only).

    Plan: per-(series, bucket) agg (ONE shuffle, map-side combined),
    dense grid join, then an LOCF window per series over TIER rows —
    the window's partition is the series key, so no keyless sort; at
    100 TB the windowed relation is tier-sized, never raw."""
    from mq_to_db_spark.config import TIER_INTERVAL, TIER_SECONDS
    from mq_to_db_spark.operators.rollup import bucket_col

    b = bucket_col(tier, ts_col)
    per_bucket = df.groupBy(*keys, b.alias("bucket_start")).agg(
        F.max(ts_col).alias("_last_ts"),
        F.count(F.lit(1)).alias("n_samples"),
    )
    grid = step_grid(
        per_bucket, TIER_INTERVAL[tier], keys, "bucket_start", global_extent=True
    )
    joined = grid.join(per_bucket, [*keys, "bucket_start"], "left")
    w = (
        W.partitionBy(*keys)
        .orderBy("bucket_start")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    locf_ts = F.last("_last_ts", ignorenulls=True).over(w)
    bucket_end_us = epoch_us(F.col("bucket_start")) + F.lit(
        TIER_SECONDS[tier] * 1_000_000
    )
    return joined.select(
        *keys,
        "bucket_start",
        F.coalesce("n_samples", F.lit(0)).alias("n_samples"),
        F.col("n_samples").isNull().alias("absent"),
        (bucket_end_us - epoch_us(locf_ts)).alias("staleness_us"),
    )


def merge_intervals(
    df: DataFrame,
    keys: list[str],
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """Union of half-open ``[start, end)`` intervals per key: overlapping
    or touching intervals merge into maximal disjoint islands — the
    gaps-and-islands pattern :func:`heartbeat_agg` uses for liveness
    covers, exposed for arbitrary interval tables (silence windows,
    maintenance calendars, downtime logs).

    ONE window shuffle on the key; empty/negative inputs are dropped.
    Output: keys + ``start_ts``/``end_ts`` of each island.
    """
    s_us, e_us = epoch_us(F.col(start_col)), epoch_us(F.col(end_col))
    live = df.filter(e_us > s_us).select(
        *keys, s_us.alias("_s"), e_us.alias("_e")
    )
    w = W.partitionBy(*keys).orderBy("_s", "_e")
    prev_max_e = F.max("_e").over(w.rowsBetween(W.unboundedPreceding, -1))
    new_island = F.when(
        prev_max_e.isNull() | (F.col("_s") > prev_max_e), 1
    ).otherwise(0)
    tagged = live.withColumn(
        "_iid", F.sum(new_island).over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return tagged.groupBy(*keys, "_iid").agg(
        from_epoch_us(F.min("_s")).alias(start_col),
        from_epoch_us(F.max("_e")).alias(end_col),
    ).drop("_iid")


def subtract_intervals(
    base: DataFrame,
    sub: DataFrame,
    keys: list[str],
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    out_start: str = "sub_start",
    out_end: str = "sub_end",
    broadcast_sub: bool = True,
) -> DataFrame:
    """Interval difference per key: the parts of each ``base`` interval
    NOT covered by any ``sub`` interval — Alertmanager's silence rule in
    batch (alert episodes minus merged silence windows = the spans that
    actually notified).  All intervals half-open ``[start, end)``.

    ``sub`` is merged via :func:`merge_intervals` first (so callers may
    pass raw, overlapping silences), then each base interval's survivors
    are the gaps between its clipped, disjoint subtrahends: one lag per
    (key, base interval) plus a tail row from the group's max clip end.
    Base intervals overlapping nothing pass through whole (left join's
    NULL branch).  Output: keys + base ``start_ts``/``end_ts`` +
    ``sub_start``/``sub_end``/``sub_us`` per surviving span (a fully
    covered base interval emits no rows).

    Scale: silences/maintenance windows are configuration-sized —
    ``broadcast_sub=True`` (default) broadcasts the merged subtrahend so
    the episode table never shuffles; set it False to hash-join two
    genuinely large interval tables on the key.
    """
    merged = merge_intervals(sub, keys, start_col, end_col).select(
        *keys,
        epoch_us(F.col(start_col)).alias("_ss"),
        epoch_us(F.col(end_col)).alias("_se"),
    )
    if broadcast_sub:
        merged = F.broadcast(merged)
    b = base.select(
        *keys,
        F.col(start_col),
        F.col(end_col),
        epoch_us(F.col(start_col)).alias("_bs"),
        epoch_us(F.col(end_col)).alias("_be"),
    )
    j = b.join(
        merged,
        [*[b[k] == merged[k] for k in keys]]
        + [merged["_ss"] < b["_be"], merged["_se"] > b["_bs"]],
        "left",
    ).select(
        *[b[k] for k in keys], start_col, end_col, "_bs", "_be",
        # greatest/least SKIP nulls in Spark — guard so a no-overlap
        # left-join row keeps a NULL clip instead of a full-width one
        F.when(F.col("_ss").isNotNull(), F.greatest("_ss", "_bs")).alias("_cs"),
        F.when(F.col("_se").isNotNull(), F.least("_se", "_be")).alias("_ce"),
    )
    w = W.partitionBy(*keys, "_bs").orderBy("_cs")
    gaps = j.filter(F.col("_cs").isNotNull()).select(
        *keys, start_col, end_col, "_be",
        F.coalesce(F.lag("_ce").over(w), F.col("_bs")).alias("_gs"),
        F.col("_cs").alias("_ge"),
    )
    tails = (
        j.groupBy(*keys, start_col, end_col, "_bs", "_be")
        .agg(F.max("_ce").alias("_mce"))
        .select(
            *keys, start_col, end_col, "_be",
            F.coalesce(F.col("_mce"), F.col("_bs")).alias("_gs"),
            F.col("_be").alias("_ge"),
        )
    )
    spans = gaps.unionByName(tails).filter(F.col("_ge") > F.col("_gs"))
    return spans.select(
        *keys,
        start_col,
        end_col,
        from_epoch_us(F.col("_gs")).alias(out_start),
        from_epoch_us(F.col("_ge")).alias(out_end),
        (F.col("_ge") - F.col("_gs")).alias("sub_us"),
    )
