"""Gap-based sessionization of transcript turns.

The reference's "conversation" boundary is the AMQP delivery stream per
queue (no session concept); for transcript analytics the engine adds the
standard time-series sessionization: a session is a maximal run of turns
within one conversation where consecutive gaps are ≤ ``gap``.

:func:`sessionize` is island detection with ``lag`` + running ``sum``
over a ``(conv_id)`` window, Catalyst-native.  One window shuffle on
conv_id (hot conversations are bounded by per-conv turn counts, and the
window sort reuses the shuffle's partitioning); exactly reproducible in
ANSI SQL → DuckDB oracle in the driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from mq_to_db_spark.operators.timegrid import epoch_us


def with_session_id(
    df: DataFrame,
    gap: str = "30 minutes",
    key: str = "conv_id",
    ts_col: str = "ts",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Tag each turn with a 0-based ``session_id`` within its ``key``.

    A new session starts when the gap to the previous turn exceeds
    ``gap`` (strictly); the first turn of a key is session 0.
    """
    if order_cols is None:
        order_cols = [ts_col] + (["turn_idx"] if "turn_idx" in df.columns else [])
    w = W.partitionBy(key).orderBy(*order_cols)
    prev = F.lag(ts_col).over(w)
    # timestamp difference is an interval; compare interval-to-interval
    new_session = (F.col(ts_col) - prev) > F.expr(f"INTERVAL {gap}")
    flag = F.when(prev.isNull() | ~new_session, F.lit(0)).otherwise(F.lit(1))
    return df.withColumn(
        "session_id",
        F.sum(flag).over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long"),
    )


def sessionize(
    df: DataFrame,
    gap: str = "30 minutes",
    key: str = "conv_id",
    ts_col: str = "ts",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Session table: one row per (key, session_id) with start/end/turn
    stats — the batch island-detection form."""
    tagged = with_session_id(df, gap, key, ts_col, order_cols)
    return tagged.groupBy(key, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_turns"),
        # exact µs arithmetic — casting timestamps to double first loses
        # precision at epoch magnitude (~1e9 s ⇒ ~1e-7 relative error)
        (
            (epoch_us(F.max(ts_col)) - epoch_us(F.min(ts_col))) / 1e6
        ).alias("duration_sec"),
    )
