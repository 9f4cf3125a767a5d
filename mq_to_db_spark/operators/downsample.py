"""Time-series downsampling: OHLC / first-last-extremes per tier bucket.

The reference's Grafana dashboard renders its counter and gauge series at
panel resolution — Grafana downsamples the scrape stream to one point per
pixel bucket (docker-compose/grafana/dashboards/mq-to-db.json:239,868).
This module makes that read-path behavior a first-class engine operator:
collapse a raw ``(keys, ts, value)`` stream to one row per tier bucket
carrying the four values any plot or candlestick needs — first (open),
max (high), min (low), last (close) — plus count/sum for re-aggregation.

Semantics: ``open``/``close`` are the value at the min/max ``(ts,
*tiebreak)`` within the bucket (deterministic under duplicate timestamps
when a unique tiebreak column is passed); ``high``/``low``/``n_samples``/
``value_sum`` are plain aggregates.

Scale design — this is the *cheapest possible* plan for the semantics:
  * one hash aggregation, no window: ``min_by/max_by(value, struct(ts,
    *tiebreak))`` fold open/close inside the same partial+final agg as
    min/max/count/sum, so raw data is touched once and the only exchange
    carries one partially-agged row per (key, bucket) per map task;
  * every output column is re-aggregable in the tier cascade sense:
    ``downsample('1d')`` over the 1h output (with open/close carried via
    the bucket-start/bucket-end keys) equals downsampling raw — the same
    mergeability invariant the rollup tiers rely on (rollup.py);
  * whole-stage codegen end to end (no UDFs, no window sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from mq_to_db_spark.operators.rollup import bucket_col
from mq_to_db_spark.operators.timegrid import epoch_us


def downsample_ohlc(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tier: str = "1h",
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """One row per ``(keys…, bucket_start)`` with ``open`` / ``high`` /
    ``low`` / ``close`` / ``n_samples`` / ``value_sum``."""
    order_key = F.struct(
        F.col(ts_col).alias("o"), *[F.col(t) for t in tiebreak]
    )
    value = F.col(value_col)
    bucket = bucket_col(tier, ts_col)
    return (
        df.groupBy(*keys, bucket.alias("bucket_start"))
        .agg(
            F.min_by(value, order_key).alias("open"),
            F.max(value).alias("high"),
            F.min(value).alias("low"),
            F.max_by(value, order_key).alias("close"),
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.sum(value), 6).alias("value_sum"),
        )
    )


def downsample_lttb(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tier: str = "1h",
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Largest-Triangle downsampling, one-bucket variant (LTOB,
    Steinarsson 2013 §4.2): per ``(keys…, bucket)`` keep the single point
    whose triangle with its *immediate neighbors* in the key's global
    ``(ts, *tiebreak)`` order has the largest area — the point a plot at
    bucket resolution would visually lose the least by keeping.  The
    key's first and last points have no triangle and get area = +∞, so
    each *wins its own bucket* — displacing that bucket's true max-area
    interior point rather than being kept in addition to it (exactly one
    point per bucket, always; if both endpoints of a short series land in
    the same bucket, only the later one survives the tiebreak).  This is
    strict one-per-bucket LTOB, not LTTB's keep-endpoints-extra rule;
    the DuckDB oracle mirrors the same semantics.

    The area is ``|dx1·dy2 − dx2·dy1|`` over *neighbor deltas* (BIGINT-µs
    time deltas, not absolute epochs, so the doubles stay ≤ ~2^40 and the
    IEEE product is bit-identical across engines — the DuckDB oracle
    replays the same delta formula and hash-matches).  Ties break to the
    latest ``(ts, *tiebreak)``, deterministic.

    Scale: ONE window shuffle on the keys (lag/lead sort reuses it), then
    a ``max_by`` hash aggregation whose grouping reuses the same
    partitioning (keys ⊂ group keys ⇒ no second exchange for the partial
    agg) — no per-row Python, no self-join.

    Output: keys + ``bucket_start`` + ``ts`` + ``value`` (the selected
    point) + ``n_samples`` (bucket population before downsampling).
    """
    w = W.partitionBy(*keys).orderBy(ts_col, *tiebreak)
    x = epoch_us(F.col(ts_col))
    y = F.col(value_col)
    xp, yp = F.lag(x).over(w), F.lag(y).over(w)
    xn, yn = F.lead(x).over(w), F.lead(y).over(w)
    # deltas relative to the PREVIOUS point; cross product = 2×area
    area2 = F.when(
        xp.isNull() | xn.isNull(), F.lit(float("inf"))
    ).otherwise(F.abs((x - xp) * (yn - yp) - (xn - xp) * (y - yp)))
    order_key = F.struct(
        area2.alias("a"), x.alias("x"), *[F.col(t) for t in tiebreak]
    )
    pick = F.struct(F.col(ts_col).alias("ts"), y.alias("value"))
    bucket = bucket_col(tier, ts_col)
    out = (
        df.select(*keys, F.col(ts_col), y, *[F.col(t) for t in tiebreak])
        .withColumn("_ok", order_key)
        .withColumn("_pick", pick)
        .groupBy(*keys, bucket.alias("bucket_start"))
        .agg(
            F.max_by("_pick", "_ok").alias("_sel"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )
    return out.select(
        *keys,
        "bucket_start",
        F.col("_sel.ts").alias(ts_col),
        F.col("_sel.value").alias(value_col),
        "n_samples",
    )


def downsample_m4(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    tier: str = "1h",
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """M4 downsample (Jugel et al., VLDB 2014, "M4: A Visualization-
    Oriented Time Series Data Aggregation"): per ``(keys…, bucket)``
    emit the DISTINCT set of up-to-four real samples — the first, the
    last, a minimum-value and a maximum-value point — which is exactly
    the sample set an error-free line rendering at bucket(=pixel-column)
    resolution needs.  Grafana's panel downsampler is the read-path
    consumer this models (the same dashboard surface as
    :func:`downsample_ohlc`, which keeps the four VALUES; M4 keeps the
    four POINTS with their real timestamps).

    Determinism: first/last are picked by the ``(ts, *tiebreak)`` total
    order; the min/max points by the ``(value, ts, *tiebreak)``
    lexicographic order — i.e. value ties resolve to the earliest
    occurrence for the minimum and the latest for the maximum.  Rows
    that coincide in ``(ts, value)`` collapse (a bucket's first point
    may BE its minimum), so a bucket yields 1–4 rows.

    Scale design — same shape as :func:`downsample_ohlc`, the cheapest
    plan for the semantics: ONE hash aggregation (``min_by``/``max_by``
    fold all four picks in the same partial+final agg — raw data is
    touched once, the exchange carries four 16-byte structs per (key,
    bucket) per map task), then a narrow 4-element ``array_distinct`` +
    ``explode`` — no second shuffle, no window sort, whole-stage
    codegen end to end.
    """
    order_ts = F.struct(
        F.col(ts_col).alias("o"), *[F.col(t) for t in tiebreak]
    )
    order_val = F.struct(
        F.col(value_col).alias("v"),
        F.col(ts_col).alias("o"),
        *[F.col(t) for t in tiebreak],
    )
    pt = F.struct(F.col(ts_col).alias("ts"), F.col(value_col).alias("value"))
    bucket = bucket_col(tier, ts_col)
    agged = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*keys, bucket.alias("bucket_start"))
        .agg(
            F.min_by(pt, order_ts).alias("_first"),
            F.min_by(pt, order_val).alias("_min"),
            F.max_by(pt, order_val).alias("_max"),
            F.max_by(pt, order_ts).alias("_last"),
        )
    )
    return agged.select(
        *keys,
        "bucket_start",
        F.explode(
            F.array_distinct(F.array("_first", "_min", "_max", "_last"))
        ).alias("_pt"),
    ).select(
        *keys,
        "bucket_start",
        F.col("_pt.ts").alias(ts_col),
        F.col("_pt.value").alias(value_col),
    )
