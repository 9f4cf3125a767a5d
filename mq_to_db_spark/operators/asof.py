"""As-of (backward) join — the canonical time-series point-in-time join.

Spark has no ASOF JOIN; the naive emulation (range join + row_number, or
a per-key ``mapInPandas`` merge) either explodes candidate pairs or
leaves the JVM.  This operator uses the union + ordered-window
last-observation-carried-forward construction:

    tag rows (right=0, left=1) → union → one shuffle+sort on
    (by, on, side) → ``last(right_struct, ignorenulls)`` over an
    unbounded-preceding window → keep left rows.

Cost: ONE shuffle of |L|+|R| rows and one sort — no pair expansion, no
Python, and the window sort reuses the shuffle's partitioning.  A right
row at exactly ``on == left.on`` matches (≤ semantics) because right
sorts before left on the tie-break side column.  All carried right
columns travel in ONE struct, so they always come from the same right
row even when individual right values are NULL.

The **keyless** form (``by=[]``) cannot use a global window (that would
serialize |L|+|R| rows through one task).  Instead it runs the LOCF as
:func:`~mq_to_db_spark.operators.rangewin.range_locf`, the
range-partitioned prefix scan: the same window *per time range*, each
range's leading rows patched with a broadcast carry of the last right
observation of every earlier range.  One cheap extent job buys full
parallelism on the big shuffle.

``tolerance`` (e.g. ``"1 hour"``) nulls matches older than the bound,
matching ``pandas.merge_asof`` / DuckDB ``ASOF JOIN`` + filter
semantics.

``direction`` gives the full ``pandas.merge_asof`` surface: ``backward``
(default, ``right.on <= left.on``), ``forward`` (``right.on >=
left.on`` — the same construction scanned in reverse; the keyless path
reuses :func:`~mq_to_db_spark.operators.rangewin.range_locf`'s NOCB
mode), and ``nearest`` (both scans, pick the smaller |Δ|; exact-µs
comparison, ties prefer the backward match — deterministic).  Forward
flips the right rows' tie-break tag to sort *after* left at equal
``on`` so ``==`` still matches in the reversed scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from mq_to_db_spark.operators.timegrid import epoch_us


def _asof_matched(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str],
    value_cols: list[str],
    tolerance: str | None,
    range_buckets: int | None,
    direction: str,
    out_col: str,
) -> DataFrame:
    """``left`` + one struct column ``out_col`` holding the matched right
    row (value_cols + ``_on``), NULL when unmatched/out-of-tolerance.
    ``direction``: ``backward`` or ``forward`` (``nearest`` is composed
    in :func:`asof_join`)."""
    r_struct = F.struct(
        *[F.col(c).alias(c) for c in value_cols], F.col(on).alias("_on")
    )
    struct_type = right.select(r_struct.alias("_r")).schema["_r"].dataType

    # backward: right(0) sorts BEFORE left(1) at equal `on`, so the
    # forward scan's "last right so far" includes the == match.
    # forward: right(2) sorts AFTER left(1), so the reversed scan's
    # "first right at-or-after" includes it symmetrically.
    r_side = 0 if direction == "backward" else 2
    l_cols = [c for c in left.columns]
    l_tag = left.select(
        *[F.col(c) for c in l_cols],
        F.lit(1).alias("_side"),
        F.lit(None).cast(struct_type).alias("_r"),
    )
    r_tag = right.filter(F.col(on).isNotNull()).select(
        # right rows with NULL `on` can never satisfy the bound
        # (and would otherwise sort nulls-first and be carried forward)
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in l_cols
            if c not in (*by, on)
        ],
        *[F.col(c) for c in (*by, on)],
        F.lit(r_side).alias("_side"),
        r_struct.alias("_r"),
    ).select(*[c for c in l_cols], "_side", "_r")  # align column order

    unioned = l_tag.unionByName(r_tag)
    reverse = direction == "forward"
    if by:
        order = [F.desc(on), F.desc("_side")] if reverse else [F.col(on), F.col("_side")]
        w = (
            W.partitionBy(*by)
            .orderBy(*order)
            .rowsBetween(W.unboundedPreceding, 0)
        )
        filled = unioned.withColumn(out_col, F.last("_r", ignorenulls=True).over(w))
    else:
        from mq_to_db_spark.operators.rangewin import range_locf

        filled = range_locf(
            unioned, on, "_r", tiebreak=("_side",), out_col=out_col,
            n_buckets=range_buckets, reverse=reverse,
        )
    out = filled.filter(F.col("_side") == 1)
    # a left row with NULL `on` matches nothing (in the reversed scan it
    # would otherwise sort nulls-last and absorb the earliest right row)
    out = out.withColumn(
        out_col, F.when(F.col(on).isNotNull(), F.col(out_col))
    )

    if tolerance is not None:
        bound = F.expr(f"INTERVAL {tolerance}")
        if reverse:
            in_tol = F.col(out_col)["_on"] <= F.col(on) + bound
        else:
            in_tol = F.col(out_col)["_on"] >= F.col(on) - bound
        out = out.withColumn(out_col, F.when(in_tol, F.col(out_col)))
    return out.drop("_side", "_r") if out_col != "_r" else out.drop("_side")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: list[str] | None = None,
    value_cols: list[str] | None = None,
    tolerance: str | None = None,
    suffix: str = "_right",
    range_buckets: int | None = None,
    direction: str = "backward",
) -> DataFrame:
    """For every left row, attach the matching right row per ``by``
    group: the latest with ``right.on <= left.on`` (``backward``), the
    earliest with ``right.on >= left.on`` (``forward``), or whichever of
    the two is closer in exact µs (``nearest``, ties → backward).

    ``value_cols``: right columns to carry (default: all non-key,
    non-``on`` columns).  The matched right timestamp is exposed as
    ``{on}{suffix}``; unmatched (or out-of-tolerance) rows keep NULLs.
    ``range_buckets``: parallelism of the keyless path (default
    4 × defaultParallelism); ignored when ``by`` is given.
    """
    by = list(by or [])
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction {direction!r}")
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (*by, on)]
    l_cols = [c for c in left.columns]

    if direction == "nearest":
        # two scans; the second carries the first's match as a left col
        withb = _asof_matched(
            left, right, on, by, value_cols, tolerance, range_buckets,
            "backward", "_mb",
        )
        both = _asof_matched(
            withb, right, on, by, value_cols, tolerance, range_buckets,
            "forward", "_mf",
        )
        d_b = epoch_us(F.col(on)) - epoch_us(F.col("_mb")["_on"])
        d_f = epoch_us(F.col("_mf")["_on"]) - epoch_us(F.col(on))
        matched = (
            F.when(F.col("_mb").isNull(), F.col("_mf"))
            .when(F.col("_mf").isNull(), F.col("_mb"))
            .when(d_b <= d_f, F.col("_mb"))
            .otherwise(F.col("_mf"))
        )
        out, m = both, matched
    else:
        out = _asof_matched(
            left, right, on, by, value_cols, tolerance, range_buckets,
            direction, "_m",
        )
        m = F.col("_m")
    return out.select(
        *[F.col(c) for c in l_cols],
        *[m[c].alias(f"{c}{suffix}") for c in value_cols],
        m["_on"].alias(f"{on}{suffix}"),
    )
