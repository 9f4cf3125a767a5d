"""PromQL subquery evaluation: ``outer_over_time(inner(x[step])[range:step])``.

The reference's Grafana dashboard asks questions like "worst 5-minute
ingest rate in each hour" (docker-compose/grafana/dashboards/
mq-to-db.json derives per-interval rates from the counters in
internal/metrics/metrics.go:95-183); in PromQL that is a *subquery* —
``max_over_time(rate(consumed_total[5m])[1h:5m])`` — an inner range
function evaluated on a fine step grid, then an outer ``_over_time``
aggregation over a coarser range.  This module promotes that two-level
evaluation to a first-class batch operator over any
``(series keys, ts, value)`` table.

Semantics (tumbling, absolute-time-aligned — the engine's discrete-sum
discipline, matching counters.py / derivatives.py):

  * the inner grid is ``floor(epoch(ts) / inner_step)`` buckets; an inner
    point exists only where the bucket has >= 1 sample (PromQL likewise
    emits no subquery sample where the inner evaluation is empty);
  * ``inner_fn`` is one of ``count`` / ``sum`` / ``avg`` / ``increase`` /
    ``rate`` — the counter forms use the reset-aware Prometheus
    contribution rule (a sample below its series predecessor contributes
    its whole value; see counters.py);
  * the outer bucket is ``floor(epoch / outer_range)``; ``outer_fn``
    (``max`` / ``min`` / ``avg`` / ``sum``) aggregates the inner points
    that fall inside it.  ``outer_range`` must be a whole multiple of
    ``inner_step`` so every outer window is a union of whole inner
    buckets — enforced, not silently floored.

Exactness: ``count`` / ``sum`` / ``increase`` inner points are computed
in the value column's own type (pass integer-scaled series for bit-exact
cross-engine replay); ``rate`` and ``avg`` divide once, last, in a fixed
expression order, so a DuckDB oracle replaying the same nested GROUP BY
hash-matches.

Scale design: the optional lag window (counter forms) hash-partitions on
the series keys, and BOTH nested aggregations reuse that partitioning
(``ClusteredDistribution(keys, bucket)`` is satisfied by
``HashPartitioning(keys)``) — Catalyst plans window + inner agg + outer
agg with a single exchange, and the second aggregation's input is already
one row per inner bucket (grid-sized, never raw-sized).  Plan-asserted in
tests/test_subquery.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from mq_to_db_spark.operators.counters import _contrib
from mq_to_db_spark.operators.timegrid import epoch_us, from_epoch_us, step_start

_INNER_FNS = ("count", "sum", "avg", "increase", "rate")
_OUTER_FNS = {"max": F.max, "min": F.min, "avg": F.avg, "sum": F.sum}


def _step_bucket(ts_col: str, step: int) -> Column:
    """Start (TIMESTAMP) of the tumbling ``step``-second bucket holding
    ``ts_col``."""
    return from_epoch_us(
        step_start(epoch_us(F.col(ts_col)), step * 1_000_000), ltz=True
    )


def subquery_eval(
    df: DataFrame,
    keys: list[str],
    inner_step: int,
    outer_range: int,
    inner_fn: str = "rate",
    outer_fn: str = "max",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: tuple[str, ...] = (),
    out_col: str | None = None,
) -> DataFrame:
    """Two-level PromQL subquery over tumbling windows.

    Output: one row per (keys, ``bucket_start``) outer window holding
    ``out_col`` (default ``{outer_fn}_{inner_fn}``) plus ``n_inner`` —
    how many inner grid points the outer aggregate saw (the PromQL
    resolution provenance; never more than ``outer_range/inner_step``).

    ``tiebreak`` orders equal timestamps deterministically for the
    counter forms (required for an exact oracle when ts collides).
    """
    if inner_fn not in _INNER_FNS:
        raise ValueError(f"inner_fn must be one of {_INNER_FNS}, got {inner_fn!r}")
    if outer_fn not in _OUTER_FNS:
        raise ValueError(
            f"outer_fn must be one of {tuple(_OUTER_FNS)}, got {outer_fn!r}"
        )
    if inner_step <= 0 or outer_range <= 0:
        raise ValueError("inner_step and outer_range must be positive")
    if outer_range % inner_step != 0:
        raise ValueError(
            f"outer_range={outer_range} is not a multiple of inner_step="
            f"{inner_step}; an outer window must be a union of whole inner "
            "buckets for the nested aggregation to be exact"
        )
    keys = list(keys)
    out_col = out_col or f"{outer_fn}_{inner_fn}"

    if inner_fn in ("increase", "rate"):
        w = W.partitionBy(*keys).orderBy(ts_col, *tiebreak)
        contrib = _contrib(F.col(value_col), F.lag(value_col).over(w))
        src = df.withColumn("_c", contrib)
        inner_expr = F.sum("_c") if inner_fn == "increase" else (
            F.sum("_c") / F.lit(float(inner_step))
        )
    else:
        src = df
        inner_expr = {
            "count": F.count(F.lit(1)),
            "sum": F.sum(value_col),
            "avg": F.avg(value_col),
        }[inner_fn]

    inner = (
        src.groupBy(*keys, _step_bucket(ts_col, inner_step).alias("_inner_ts"))
        .agg(inner_expr.alias("_iv"))
    )
    return (
        inner.groupBy(
            *keys, _step_bucket("_inner_ts", outer_range).alias("bucket_start")
        )
        .agg(
            _OUTER_FNS[outer_fn]("_iv").alias(out_col),
            F.count(F.lit(1)).alias("n_inner"),
        )
    )


def irate(
    df: DataFrame,
    keys: list[str],
    step: int,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: tuple[str, ...] = (),
    out_col: str = "irate",
) -> DataFrame:
    """PromQL ``irate()`` per (keys, tumbling ``step`` bucket): the
    instantaneous per-second rate from the bucket's LAST TWO samples —
    reset-aware (a drop means the counter restarted, so the last value is
    the whole contribution).  Buckets with a single sample yield NULL
    (no pair to difference); the divisor is the exact microsecond gap
    between the two samples, never the bucket width.

    One exchange: the ranking window partitions on (keys, bucket) and the
    pivot aggregation groups the same columns.  The rate formula runs in
    one fixed order — ``contribution * 1e6 / gap_us`` with ``gap_us`` an
    exact BIGINT — so a DuckDB oracle replaying ``epoch_us`` arithmetic
    hash-matches.
    """
    if step <= 0:
        raise ValueError("step must be positive")
    keys = list(keys)
    bucket = _step_bucket(ts_col, step).alias("bucket_start")
    src = df.select(*keys, bucket, F.col(ts_col).alias("_ts"), F.col(value_col).alias("_v"), *[F.col(t) for t in tiebreak if t not in keys])
    w = W.partitionBy(*keys, "bucket_start").orderBy(
        F.col("_ts").desc(), *[F.col(t).desc() for t in tiebreak]
    )
    ranked = src.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= 2)
    last = F.max(F.when(F.col("_rn") == 1, F.struct("_ts", "_v"))).alias("_last")
    prev = F.max(F.when(F.col("_rn") == 2, F.struct("_ts", "_v"))).alias("_prev")
    agg = ranked.groupBy(*keys, "bucket_start").agg(last, prev)
    lv, pv = F.col("_last._v"), F.col("_prev._v")
    gap_us = epoch_us(F.col("_last._ts")) - epoch_us(F.col("_prev._ts"))
    contribution = F.when(lv >= pv, lv - pv).otherwise(lv)
    rate = F.when(
        F.col("_prev").isNotNull() & (gap_us > 0),
        contribution * F.lit(1000000.0) / gap_us.cast("double"),
    )
    return agg.select(*keys, "bucket_start", rate.alias(out_col))
