"""Drift / episode detection over metric series: tabular CUSUM and
Prometheus-style ``for:``-duration alert episodes.

The reference's operational surface is alert-shaped: its Grafana
dashboard panels (docker-compose/grafana/dashboards/mq-to-db.json) and
Prometheus metrics (internal/metrics) exist so an operator can see the
consumer loop drift (message rate sagging, error counts climbing) and so
alert rules can fire after a condition has *held* for a while (the
PromQL ``for:`` clause).  This module promotes both detection idioms to
first-class batch operators over any ``(series keys, ts, value)`` table:

  * ``cusum`` — two-sided tabular CUSUM (Page 1954): per series,
    ``S⁺_t = max(0, S⁺_{t-1} + (v_t - target - slack))`` and the mirror
    ``S⁻`` for downward drift; a sample alarms when either statistic
    exceeds the decision threshold ``h``.
  * ``threshold_episodes`` — gaps-and-islands grouping of contiguous
    above-threshold runs, filtered to runs that *held* at least
    ``min_duration_us`` (exactly Prometheus' ``expr > x for: d``).

Exactness discipline: callers pass an integer value column (the engine's
micro-unit convention, operators/counters.py) and integer ``target`` /
``slack`` / ``h``, so every statistic is BIGINT end-to-end and a DuckDB
oracle hash-matches bit-for-bit.

CUSUM without recursion: the clamp recurrence is not a plain running
sum, but it has a closed form over prefix sums — with
``P_t = Σ_{i≤t} d_i`` (and ``P_0 = 0``),

    ``S_t = max(0, max_{j≤t} Σ_{i=j..t} d_i) = P_t - min(P_0, …, P_t)``

(the max-suffix-sum identity: subtracting the smallest prefix seen so
far, with 0 included for the empty suffix, IS the clamped accumulation).
So both CUSUM sides are two ordinary window expressions — a running sum
then a running min over it — no ``applyInPandas``, no recursion, and the
whole statistic stays inside whole-stage codegen.

Scale design: ONE exchange per operator — every window partitions on the
series keys and sorts on (ts, tiebreak); Catalyst reuses the single sort
for the stacked windows (sum → min for cusum; the two row_numbers for
episodes), and the episode aggregation groups on (keys, island) which is
a narrow restatement of the same partitioning.  State per series is
O(1); skew follows the series-key distribution exactly like
operators/counters.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import window as W

from mq_to_db_spark.operators.timegrid import epoch_us


def cusum(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "v",
    target: int = 0,
    slack: int = 0,
    h: int | None = None,
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Two-sided tabular CUSUM per series; all-integer arithmetic.

    ``value_col`` must already be integer (micro-units).  Adds
    ``cusum_hi`` / ``cusum_lo`` (BIGINT) and, when ``h`` is given,
    a boolean ``alarm`` = (either side > h).
    """
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak]
    w = (
        W.Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(W.Window.unboundedPreceding, W.Window.currentRow)
    )
    v = F.col(value_col).cast("long")
    d_hi = v - F.lit(int(target)) - F.lit(int(slack))
    d_lo = (F.lit(int(target)) - v) - F.lit(int(slack))
    out = df.withColumn("_p_hi", F.sum(d_hi).over(w)).withColumn(
        "_p_lo", F.sum(d_lo).over(w)
    )
    # S_t = P_t - min(P_0..P_t); the lit(0) term is P_0 (empty suffix).
    out = out.withColumn(
        "cusum_hi",
        F.col("_p_hi") - F.least(F.lit(0).cast("long"), F.min("_p_hi").over(w)),
    ).withColumn(
        "cusum_lo",
        F.col("_p_lo") - F.least(F.lit(0).cast("long"), F.min("_p_lo").over(w)),
    )
    out = out.drop("_p_hi", "_p_lo")
    if h is not None:
        out = out.withColumn(
            "alarm",
            (F.col("cusum_hi") > F.lit(int(h)))
            | (F.col("cusum_lo") > F.lit(int(h))),
        )
    return out


def threshold_episodes(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "v",
    threshold: int = 0,
    min_duration_us: int = 0,
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Contiguous above-threshold runs per series that held long enough.

    Prometheus ``expr > threshold for: d`` replayed in batch: group
    maximal runs of consecutive samples with ``value > threshold``
    (strict, integer compare) and keep runs whose first→last sample span
    is at least ``min_duration_us``.  Output one row per episode:
    keys…, ``start_ts``, ``end_ts``, ``n_samples``, ``peak`` and
    ``duration_us`` (BIGINT, exact epoch-µs difference).
    """
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak]
    v = F.col(value_col).cast("long")
    above = v > F.lit(int(threshold))
    w_all = W.Window.partitionBy(*keys).orderBy(*order)
    w_flag = W.Window.partitionBy(*[F.col(k) for k in keys], above).orderBy(*order)
    runs = (
        df.withColumn("_above", above)
        .withColumn(
            "_island",
            F.row_number().over(w_all) - F.row_number().over(w_flag),
        )
        .where(F.col("_above"))
    )
    eps = runs.groupBy(*keys, "_island").agg(
        F.min(ts_col).alias("start_ts"),
        F.max(ts_col).alias("end_ts"),
        F.count(F.lit(1)).alias("n_samples"),
        F.max(v).alias("peak"),
    )
    dur = (epoch_us(F.col("end_ts")) - epoch_us(F.col("start_ts"))).alias(
        "duration_us"
    )
    return (
        eps.select(*keys, "start_ts", "end_ts", "n_samples", "peak", dur)
        .where(F.col("duration_us") >= F.lit(int(min_duration_us)))
    )
