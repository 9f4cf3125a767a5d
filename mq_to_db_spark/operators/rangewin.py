"""Range-partitioned prefix scans: every keyless global window, in parallel.

A keyless ``last(x, ignorenulls) OVER (ORDER BY t)`` (or a running sum,
or a lag) forces Spark to a single window partition — every row through
one task.  This module keeps the same semantics at full parallelism, as
a Blelloch-style prefix scan in two pieces:

  1. :func:`range_buckets` tags every row with its range bucket ``_rb``
     by ``width_bucket`` over the [min, max] extent of the order column
     (one cheap columnar min/max job) and hash-partitions on it;
  2. :func:`range_scan` runs the window *per bucket*, folds each bucket
     into a one-row summary, scans the summaries over the
     (n_buckets)-row bucket spine — the one place a single partition is
     trivially fine — and patches every row with its bucket's broadcast
     **prefix carry**.

:func:`range_locf`, :func:`range_running_sums` and :func:`range_lag` are
scans that differ only in their four expressions (in-bucket window,
summary, carry, patch).  Users: the keyless as-of join (asof.py), keyless
gap-fill interpolation (gapfill.py), the keyless counter lag and reset
adjustment (counters.py), and the running sums of the concurrency sweep
(concurrency.py), survival curves (survival.py), reservoir sampling
(sampling.py), skew audit (skewaudit.py) and ranking (ranking.py).  The
keyless EWMA (ewma.py) takes its buckets and order key from here and
keeps its own pandas scan and affine carry.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

from mq_to_db_spark.operators.timegrid import epoch_us


def numeric_order_col(df: DataFrame, order_col: str) -> Column:
    """``order_col`` as a monotonic DOUBLE suitable for ``width_bucket``
    ranging.  Temporal columns go through an epoch cast — a plain
    ``.cast('double')`` raises on TIMESTAMP_NTZ (the type parquet
    timestamps read back as), and DATE can't cast to double at all.
    NTZ→LTZ interprets in the session timezone (UTC), which is monotonic
    and deterministic — all this is used for is range bucketing."""
    dt = dict(df.dtypes).get(order_col, "")
    c = F.col(order_col)
    if dt.startswith("timestamp") or dt == "date":
        return epoch_us(c).cast("double")
    return c.cast("double")


def range_buckets(
    df: DataFrame, order_col: str, n_buckets: int | None = None
) -> tuple[DataFrame, int]:
    """``df`` plus an int ``_rb`` range bucket over ``order_col``,
    hash-partitioned on ``_rb``, and the bucket count (default
    4 × defaultParallelism).  Buckets run 1..n+1 (``width_bucket`` puts
    the maximum in n+1); a NULL order value gets a NULL bucket.  A
    degenerate extent (≤1 distinct instant) is one bucket."""
    if n_buckets is None:
        n_buckets = max(df.sparkSession.sparkContext.defaultParallelism, 1) * 4
    od = numeric_order_col(df, order_col)
    ext = df.agg(F.min(od).alias("mn"), F.max(od).alias("mx")).first()
    if ext.mn is None or ext.mn == ext.mx or n_buckets <= 1:
        n_buckets, rb = 1, F.when(od.isNotNull(), F.lit(1))
    else:
        rb = F.width_bucket(od, F.lit(ext.mn), F.lit(ext.mx), F.lit(n_buckets))
    # explicit: a single-partition input (e.g. a gap-fill grid) would
    # otherwise satisfy the window's distribution without any exchange
    return df.withColumn("_rb", rb.cast("int")).repartition("_rb"), n_buckets


def order_key(order_col: str, tiebreak: tuple[str, ...] = ()) -> Column:
    """The scan's total order ``(order_col, *tiebreak)`` as one comparable
    value for ``max_by``/``min_by``.  The bare column when there is no
    tiebreak: a struct ordering makes the aggregate a SortAggregate."""
    if not tiebreak:
        return F.col(order_col)
    return F.struct(*[F.col(c) for c in (order_col, *tiebreak)])


#: One output of :func:`range_scan`: ``(within, summary, carry, patch)``.
#: ``within(w)`` scans inside a bucket over ``w`` (its rows in scan order,
#: no frame); ``summary(last)`` folds a bucket into the value its carry is
#: built from, where ``last(x, where=None)`` is ``x`` at the bucket's last
#: row in scan order; ``carry(s, w)`` scans summary ``s`` over the spine,
#: ``w`` framed to the strictly earlier buckets; ``patch(p, c)`` combines
#: the in-bucket value ``p`` with the carry ``c``.
Scan = tuple[Callable, Callable, Callable, Callable]


def _upto(w: WindowSpec) -> WindowSpec:
    return w.rowsBetween(W.unboundedPreceding, W.currentRow)


def _carry_last(s: Column, w: WindowSpec) -> Column:
    # empty buckets have a NULL summary and are skipped
    return F.last(s, ignorenulls=True).over(w)


def range_scan(
    df: DataFrame,
    order_col: str,
    scans: dict[str, Scan],
    tiebreak: tuple[str, ...] = (),
    n_buckets: int | None = None,
    reverse: bool = False,
) -> DataFrame:
    """``df`` with each ``scans`` output column, computed over the global
    ``(order_col, *tiebreak)`` order (descending when ``reverse``) as a
    range-partitioned prefix scan: one extent job, one bucket shuffle,
    and one broadcast carry join shared by every output.  Rows with NULL
    ``order_col`` receive no carry (they sit outside the range order)."""
    tagged, n = range_buckets(df, order_col, n_buckets)
    key = order_key(order_col, tiebreak)
    by = F.min_by if reverse else F.max_by

    def last(x: Column, where: Column | None = None) -> Column:
        return by(x, key if where is None else F.when(where, key))

    order = [F.col(c) for c in (order_col, *tiebreak)]
    w = W.partitionBy("_rb").orderBy(*[c.desc() for c in order] if reverse else order)
    w_spine = W.orderBy(F.col("_rb").desc() if reverse else F.col("_rb")).rowsBetween(
        W.unboundedPreceding, -1
    )
    within, summ, carry, patch = zip(*scans.values())
    ids = range(len(scans))
    summary = tagged.groupBy("_rb").agg(*[summ[i](last).alias(f"_s{i}") for i in ids])
    spine = df.sparkSession.range(1, n + 2).select(F.col("id").cast("int").alias("_rb"))
    carries = spine.join(summary, "_rb", "left").select(
        "_rb", *[carry[i](F.col(f"_s{i}"), w_spine).alias(f"_c{i}") for i in ids]
    )
    out = tagged.select("*", *[within[i](w).alias(f"_p{i}") for i in ids]).join(
        F.broadcast(carries), "_rb", "left"
    )
    for i, col in enumerate(scans):
        out = out.withColumn(col, patch[i](F.col(f"_p{i}"), F.col(f"_c{i}")))
    return out.drop("_rb", *[f"_{x}{i}" for i in ids for x in "pc"])


def range_locf(
    df: DataFrame,
    order_col: str,
    fill_col: str,
    tiebreak: tuple[str, ...] = (),
    out_col: str | None = None,
    n_buckets: int | None = None,
    reverse: bool = False,
) -> DataFrame:
    """Fill ``out_col`` (default: overwrite ``fill_col``) with the last
    non-null ``fill_col`` at-or-before each row in the global
    ``(order_col, *tiebreak)`` order — equivalent to a single global
    LOCF window, executed range-partitioned.  ``reverse=True`` fills
    with the first non-null observation at-or-*after* instead (NOCB —
    the "next" side of linear interpolation)."""
    f = F.col(fill_col)
    locf = (
        lambda w: F.last(f, ignorenulls=True).over(_upto(w)),
        lambda last: last(f, f.isNotNull()),
        _carry_last,
        F.coalesce,
    )
    return range_scan(
        df, order_col, {out_col or fill_col: locf}, tiebreak, n_buckets, reverse
    )


def range_lag(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str,
    tiebreak: tuple[str, ...] = (),
    n_buckets: int | None = None,
) -> DataFrame:
    """``lag(value_col) OVER (ORDER BY order_col, *tiebreak)`` into
    ``out_col``, executed range-partitioned: a bucket's first row takes
    the last value of the nearest non-empty earlier bucket, NULL
    included.  The value travels in a one-field struct so that "no
    previous row" (NULL struct) and "previous value NULL" stay apart."""
    v = F.struct(F.col(value_col).alias("v"))
    lag = (
        lambda w: F.lag(v).over(w),
        lambda last: last(v),
        _carry_last,
        lambda p, c: F.coalesce(p, c)["v"],
    )
    return range_scan(df, order_col, {out_col: lag}, tiebreak, n_buckets)


def range_running_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    tiebreak: tuple[str, ...] = (),
    out_col: str = "running_sum",
    n_buckets: int | None = None,
) -> DataFrame:
    """Global cumulative ``SUM(value_col) OVER (ORDER BY order_col,
    *tiebreak ROWS UNBOUNDED PRECEDING..CURRENT)`` executed
    range-partitioned — the prefix-sum sibling of :func:`range_locf`:
    a per-bucket running sum plus the SUM of every earlier bucket's
    total.  NULL ``value_col`` rows contribute 0."""
    return range_running_sums(
        df, order_col, {out_col: value_col}, tiebreak=tiebreak, n_buckets=n_buckets
    )


def range_running_sums(
    df: DataFrame,
    order_col: str,
    sums: dict[str, str],
    tiebreak: tuple[str, ...] = (),
    n_buckets: int | None = None,
) -> DataFrame:
    """N global cumulative sums over the SAME order in ONE
    range-partitioned pass — ``sums`` maps ``out_col -> value_col``
    (a caller looping :func:`range_running_sum` pays the extent job,
    the bucket shuffle and the carry join per column)."""

    def running(v: str) -> Scan:
        return (
            lambda w: F.sum(v).over(_upto(w)),
            lambda last: F.sum(v),
            lambda s, w: F.sum(s).over(w),
            lambda p, c: F.coalesce(p, F.lit(0)) + F.coalesce(c, F.lit(0)),
        )

    return range_scan(
        df, order_col, {o: running(v) for o, v in sums.items()}, tiebreak, n_buckets
    )
