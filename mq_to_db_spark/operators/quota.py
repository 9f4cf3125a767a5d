"""Sliding-window quotas and drawdown — the abuse/regression detectors.

mq-to-db's consumer honours per-queue prefetch limits (its RabbitMQ
consumer config caps in-flight deliveries), which at analytics scale
becomes the *quota* question: which series exceeded N samples in ANY
trailing window of length W — rate limiting, abuse detection, scrape
storm forensics.  And its throughput panels invite the mirror question:
within a bucket, how far did the metric fall from its running peak —
the *drawdown* regression severity.

  * ``sliding_quota`` — per sample: how many samples of the same series
    fall in the trailing window ``(ts − window_us, ts]`` (a true RANGE
    frame on epoch-µs, not a row frame — irregular sampling is counted
    by TIME, which is what a rate limit means), plus the
    ``violation`` flag when that count exceeds ``limit``.
  * ``max_drawdown`` — per (series, tier bucket): the largest drop from
    the running (prefix) maximum to a later sample within the bucket —
    ``max_t (max_{i≤t} v_i − v_t)`` — plus the bucket peak.

Exactness: integer value/count arithmetic end-to-end (epoch-µs BIGINT
range bounds, BIGINT counts and differences) — DuckDB replays both with
identical window frames, hash-exact.

Scale design: one exchange each — both windows hash-partition on the
series keys (quota) or (series, bucket) via the series keys (drawdown)
and sort once; the drawdown bucket aggregate reuses the window's
partitioning.  RANGE frames keep O(window) state per partition stream,
never materializing per-row arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import window as W

from mq_to_db_spark.operators.rollup import bucket_col
from mq_to_db_spark.operators.timegrid import epoch_us


def sliding_quota(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    window_us: int = 600_000_000,
    limit: int = 10,
    out_col: str = "win_count",
) -> DataFrame:
    """Trailing time-window sample count per row + quota violation flag.

    The frame is ``(ts − window_us, ts]``: inclusive of the current
    instant, exclusive of the instant exactly ``window_us`` ago — the
    standard rate-limiter contract ("no more than N per W").  Rows that
    share a timestamp share a count (RANGE semantics — deterministic
    without a tiebreak by construction).
    """
    us = epoch_us(F.col(ts_col))
    w = (
        W.Window.partitionBy(*keys)
        .orderBy(us)
        .rangeBetween(-(int(window_us) - 1), 0)
    )
    return df.withColumn(out_col, F.count(F.lit(1)).over(w)).withColumn(
        "violation", F.col(out_col) > F.lit(int(limit))
    )


def max_drawdown(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "v",
    tier: str = "1d",
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Largest peak-to-later-sample drop per (keys, tier bucket), exact
    BIGINT: 0 for monotonically non-decreasing buckets (never negative,
    never null for a non-empty bucket)."""
    b = bucket_col(tier, ts_col)
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak]
    w = (
        W.Window.partitionBy(*keys, b)
        .orderBy(*order)
        .rowsBetween(W.Window.unboundedPreceding, W.Window.currentRow)
    )
    v = F.col(value_col).cast("long")
    dd = F.max(v).over(w) - v
    return (
        df.withColumn("_dd", dd)
        .groupBy(*keys, b.alias("bucket_start"))
        .agg(
            F.max("_dd").alias("max_drawdown"),
            F.max(v).alias("peak"),
            F.count(F.lit(1)).alias("n_samples"),
        )
    )


def gcra_throttle(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    period_us: int = 1_000_000,
    burst: int = 1,
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """GCRA / token-bucket rate-limiter audit — the OTHER canonical
    limiter next to :func:`sliding_quota`'s sliding window: sustained
    rate 1/``period_us`` with ``burst`` tokens of depth, the
    virtual-scheduling form used by API gateways (ATM GCRA; tau =
    (burst-1)·T).  Answers "which of these events would a limiter have
    throttled, and by how much" over historical streams.

    The textbook recurrence ``TAT_i = max(t_i, TAT_{i-1}) + T`` looks
    sequential, but (in the audit/shaping mode where every arrival
    consumes — offered-load analysis) it has an exact closed form: with
    arrivals of one key indexed j = 0,1,… and ``u_j = t_j − j·T``,

        TAT_i = (i+1)·T + max_{j≤i} u_j

    so the whole audit is ONE prefix-max window over exact BIGINT µs —
    no recursion, no Python, scale = any other keyed window.  Event i
    is throttled iff ``u_i < prefmax_{i−1}(u) − tau`` and its shaping
    delay is ``max(0, prefmax_{i−1}(u) − tau − u_i)`` µs.  The first
    event of a key is never throttled.

    Output: input rows + ``throttled`` (boolean) + ``delay_us``
    (BIGINT; 0 when conforming).  A DuckDB replay with the same window
    is hash-exact — every quantity is integer µs.
    """
    T = int(period_us)
    tau = (int(burst) - 1) * T
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak]
    w_ord = W.Window.partitionBy(*keys).orderBy(*order)
    w_prev = w_ord.rowsBetween(W.Window.unboundedPreceding, -1)
    # u staged as a column first (a window function cannot nest inside
    # another's argument); both window nodes share the spec -> one sort
    staged = df.withColumn(
        "_u",
        epoch_us(F.col(ts_col))
        - (F.row_number().over(w_ord) - 1).cast("long") * F.lit(T),
    )
    prev_max = F.max("_u").over(w_prev)
    delay = F.greatest(
        prev_max - F.lit(tau) - F.col("_u"), F.lit(0).cast("long")
    )
    return (
        staged.withColumn(
            "delay_us", F.coalesce(delay, F.lit(0)).cast("long")
        )
        .withColumn("throttled", F.col("delay_us") > 0)
        .drop("_u")
    )
