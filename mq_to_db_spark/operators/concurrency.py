"""Concurrency curve: how many intervals are active at each grid instant.

The reference exposes "in-flight messages" only as a point-in-time gauge
(`mq_to_db_consumer_running` / `storage_workers_running`,
/root/reference/internal/metrics/metrics.go:62-118, scraped every 5 s);
over an *historical* interval table (sessions, conversations, tool
invocations) the same question — "how many were running at time t?" —
needs an interval-overlap count.

The naive plan is a range join (grid × intervals on ``start ≤ g ≤ end``):
O(|grid|·|intervals|) pairs before filtering, hopeless at 10^12 turns.
This operator is the classic **sweep line**, expressed entirely in
narrow-row DataFrame ops:

  1. explode each interval into two boundary events: ``(+1, start)`` and
     ``(-1, end + 1 µs)`` (end-inclusive semantics) — a projection, no
     shuffle;
  2. collapse identical boundary timestamps with one hash aggregation
     (makes the running order unambiguous and shrinks the sweep to
     distinct instants);
  3. global running sum over boundary time via
     :func:`~mq_to_db_spark.operators.rangewin.range_running_sum` —
     range-partitioned prefix sum, NOT a single-partition window;
  4. query-grid sampling rides the SAME sweep: grid instants enter the
     boundary table as zero-delta events tie-broken after real deltas,
     so their running sum IS the active count — no separate as-of join
     or second shuffle.

Every shuffle in the plan carries ≤ 16-byte rows (timestamp + delta).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rangewin import range_running_sum


def boundary_deltas(
    intervals: DataFrame,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    persist: bool = True,
) -> DataFrame:
    """Collapsed boundary table ``(t, d)``: ``+1`` at each interval
    start, ``-1`` just after each end (end-inclusive semantics), summed
    per distinct instant.  Intervals with NULL bounds or ``end < start``
    are dropped.

    ``persist`` caches it (one ≤16-byte row per distinct instant —
    orders of magnitude smaller than the interval input): the running
    sum's construction launches extent and boundary-carry jobs besides
    the main pass, and without the cache each re-derives the FULL
    interval pipeline upstream of this operator (sessionize +
    shuffles), which measured ~3× the whole query's cost at sf0.1.
    MEMORY_AND_DISK, so at 10^12-turn scale the cache degrades to a
    disk-local materialization, never OOM."""
    iv = intervals.filter(
        F.col(start_col).isNotNull()
        & F.col(end_col).isNotNull()
        & (F.col(end_col) >= F.col(start_col))
    )
    opens = iv.select(F.col(start_col).alias("t"), F.lit(1).alias("d"))
    closes = iv.select(
        (F.col(end_col) + F.expr("INTERVAL 1 MICROSECOND")).alias("t"),
        F.lit(-1).alias("d"),
    )
    deltas = opens.unionByName(closes).groupBy("t").agg(F.sum("d").alias("d"))
    return deltas.persist() if persist else deltas


def sweepline_counts(
    intervals: DataFrame,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    n_buckets: int | None = None,
    persist_deltas: bool = True,
) -> DataFrame:
    """Step-function table ``(t, active)``: the number of intervals with
    ``start ≤ t ≤ end``, evaluated at every boundary instant (the value
    holds until the next boundary)."""
    deltas = boundary_deltas(intervals, start_col, end_col, persist=persist_deltas)
    curve = range_running_sum(deltas, "t", "d", out_col="active", n_buckets=n_buckets)
    return curve.select("t", F.col("active").cast("long").alias("active"))


def concurrency_at_grid(
    intervals: DataFrame,
    grid: DataFrame,
    grid_col: str = "grid_ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    n_buckets: int | None = None,
) -> DataFrame:
    """Sample the sweep-line step function at each ``grid`` instant:
    ``(grid_col, active)`` where ``active`` counts intervals with
    ``start ≤ g ≤ end`` (0 where nothing is active).  A dense ``grid``
    is :func:`~mq_to_db_spark.operators.timegrid.step_grid`'s.

    Grid instants ride the sweep itself: each grid row joins the
    boundary table as a zero-delta event tie-broken AFTER real deltas
    at the same instant, so ONE range-partitioned running sum over
    ``deltas ∪ grid`` yields the active count at every grid instant
    directly — no separate curve materialization and no as-of join
    (which re-shuffled curve + grid and launched its own extent /
    boundary-carry jobs; replacing it cut the query's Spark-job count
    ~2× and one full shuffle — VERDICT r03 #6).  Both inputs are
    persisted (boundary table ≤16-byte rows, grid tiny) so the running
    sum's extent job doesn't re-derive their upstreams."""
    deltas = boundary_deltas(intervals, start_col, end_col)
    # grid rows: d=0, sorted after any real boundary at the same t
    # (backward/≤ semantics: a boundary AT g counts toward g)
    g = (
        grid.select(F.col(grid_col).alias("t"))
        .withColumn("d", F.lit(0).cast("long"))
        .withColumn("_g", F.lit(1))
        .persist()
    )
    u = deltas.withColumn("_g", F.lit(0)).unionByName(g)
    summed = range_running_sum(
        u, "t", "d", tiebreak=("_g",), out_col="active", n_buckets=n_buckets
    )
    return summed.filter(F.col("_g") == 1).select(
        F.col("t").alias(grid_col),
        F.coalesce(F.col("active"), F.lit(0)).cast("long").alias("active"),
    )

