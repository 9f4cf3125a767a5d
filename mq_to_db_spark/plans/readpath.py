"""The tiered READ path: answer any time range from tiers + archive.

plans/pipeline.py is the write path (raw turns → tier cascade + chunk
archive + retention).  This module is its read-side complement — the
TimescaleDB *real-time continuous aggregate* / Druid broker shape: a
query over an arbitrary ``[t0, t1)`` is served by

  1. whole tier buckets for the minute-aligned interior
     (operators/stitch.py — 1d interior, 1h edges, 1m fringes, each a
     partition-prunable ``bucket_start`` range scan over tier-sized
     rows), and
  2. the compressed chunk archive for the sub-minute edge slivers
     (operators/compression.py ``decode_chunks_range`` — chunk-metadata
     pruned, so only the O(series active in the edge minute) blobs
     decompress),

merged by the cascade's exact partial merge.  The raw turns table is
never touched: at 10^12 turns the interior is thousandfold-reduced tier
rows and the slivers are two minutes of archive — this is what makes a
dashboard zoom O(answer), not O(data).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mq_to_db_spark.config import TIER_SECONDS
from mq_to_db_spark.operators.compression import decode_chunks_range
from mq_to_db_spark.operators.rollup import (
    _merge_aggs,
    _partial_aggs,
    with_text_stats,
)
from mq_to_db_spark.operators.stitch import _TIER_TD, _as_dt, _floor, stitch_range
from mq_to_db_spark.operators.timegrid import epoch_us, from_epoch_us, step_start


def _ceil_minute(ts: datetime) -> datetime:
    f = _floor(ts, "1m")
    return ts if f == ts else f + _TIER_TD["1m"]


def _sliver_partials(
    chunks: DataFrame, lo: datetime, hi: datetime, keys: list[str]
) -> DataFrame:
    """Tier-shaped partials for a sub-minute ``[lo, hi)`` edge, computed
    from the chunk archive (metadata-pruned decode, exact trim)."""
    turns = decode_chunks_range(chunks, lo, hi)
    return (
        with_text_stats(turns)
        .groupBy(*keys)
        .agg(*_partial_aggs())
        .withColumn("bucket_start", F.lit(_floor(lo, "1m")))
        .withColumn("tier", F.lit("raw"))
    )


def hybrid_read(
    tier_dfs: dict[str, DataFrame],
    chunks: DataFrame,
    t0,
    t1,
    keys: list[str] | None = None,
) -> DataFrame:
    """Exact aggregate over an ARBITRARY ``[t0, t1)`` (any microsecond
    bounds) from tier tables + chunk archive alone.

    Decomposition: minute-aligned interior via :func:`stitch_range`
    covering rows; head sliver ``[t0, ceil_minute(t0))`` and tail sliver
    ``[floor_minute(t1), t1)`` via archive decode; one merge agg over
    the union.  Output: one row per ``keys`` with the merged stats plus
    ``n_partials`` / ``n_raw`` provenance (tier rows merged / raw-sliver
    partial rows merged).

    A range inside a single minute degenerates to one archive sliver;
    aligned bounds degenerate to pure stitching — both exact.
    """
    keys = list(keys or [])
    t0, t1 = _as_dt(t0), _as_dt(t1)
    if not t0 < t1:
        raise ValueError(f"empty range: {t0!r} >= {t1!r}")
    t0c, t1f = _ceil_minute(t0), _floor(t1, "1m")

    parts: list[DataFrame] = []
    if t0c >= t1f:
        # whole range inside one or two adjacent minutes: slivers only
        parts.append(_sliver_partials(chunks, t0, t1, keys))
    else:
        if t0 < t0c:
            parts.append(_sliver_partials(chunks, t0, t0c, keys))
        parts.append(
            stitch_range(tier_dfs, t0c, t1f, keys=keys, aggregate=False)
        )
        if t1f < t1:
            parts.append(_sliver_partials(chunks, t1f, t1, keys))

    cols = ["bucket_start", *keys, "tier"]
    stat_cols = None
    normed = []
    for p in parts:
        if stat_cols is None:
            stat_cols = [c for c in p.columns if c not in cols]
        normed.append(p.select(*cols, *stat_cols))
    u = normed[0]
    for p in normed[1:]:
        u = u.unionByName(p)
    return u.groupBy(*keys).agg(
        *_merge_aggs(),
        F.count(F.lit(1)).alias("n_partials"),
        F.count_if(F.col("tier") == "raw").alias("n_raw"),
    )


def pick_tier(step_seconds: int, available: tuple[str, ...] = ("1m", "1h", "1d")) -> str:
    """Resolution selection (the Prometheus downsample / M3 resolution
    rule): the COARSEST stored tier whose bucket width divides the query
    step — coarsest means fewest rows scanned and merged, divisibility
    means every grid cell is a union of whole tier buckets, so the
    re-aggregation is exact (same partial-merge as the cascade).

    A 6h dashboard step reads the 1h tier (24× fewer rows than 1m); a
    weekly report reads 1d.  A step no tier divides (e.g. 90 s) falls
    back to the finest available tier only if it divides — otherwise
    raises, because serving it would require the raw table (use
    :func:`hybrid_read` per cell for that).
    """
    fits = [
        t for t in available
        if step_seconds % TIER_SECONDS[t] == 0
    ]
    if not fits:
        raise ValueError(
            f"no stored tier divides step={step_seconds}s; "
            f"available={available} — evaluate via hybrid_read instead"
        )
    return max(fits, key=lambda t: TIER_SECONDS[t])


def range_eval(
    tier_dfs: dict[str, DataFrame],
    t0,
    t1,
    step_seconds: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """Step-grid evaluation over ``[t0, t1)`` served from ONE tier: the
    PromQL ``query_range`` / Grafana panel shape (one point per ``keys``
    per ``step``), with the source tier chosen by :func:`pick_tier`.

    ``t0`` must be aligned to the chosen tier's bucket width (a grid
    cell must be a union of whole buckets to re-aggregate exactly) —
    enforced, not silently floored.  Output: ``grid_ts`` (cell start),
    keys, the merged tier stats, and ``n_src_buckets`` (how many stored
    tier rows served the cell — the read-amplification figure; at a 6h
    step over the 1h tier it is ≤6 per cell per series, never raw-sized).

    One partition-prunable range scan over tier rows + one hash
    aggregation on ``(grid cell, keys)`` — no raw scan, no shuffle of
    anything bigger than tier partials; a dashboard of any zoom level
    costs O(points on screen × tier fan-in).
    """
    keys = list(keys or [])
    t0, t1 = _as_dt(t0), _as_dt(t1)
    if not t0 < t1:
        raise ValueError(f"empty range: {t0!r} >= {t1!r}")
    if step_seconds <= 0:
        raise ValueError(f"step must be positive, got {step_seconds}")
    tier = pick_tier(step_seconds, tuple(tier_dfs))
    width = TIER_SECONDS[tier]
    # the session pins spark.sql.session.timeZone=UTC (session.py), so a
    # naive bound is a UTC instant — don't let the HOST timezone leak in
    from datetime import timezone

    epoch0 = int(t0.replace(tzinfo=t0.tzinfo or timezone.utc).timestamp())
    if epoch0 % width != 0:
        raise ValueError(
            f"t0={t0} is not aligned to the chosen tier {tier!r} "
            f"({width}s buckets); align t0 or query via hybrid_read"
        )
    src = tier_dfs[tier].filter(
        (F.col("bucket_start") >= F.lit(t0)) & (F.col("bucket_start") < F.lit(t1))
    )
    cell = step_start(
        epoch_us(F.col("bucket_start")), step_seconds * 1_000_000, epoch0 * 1_000_000
    )
    return (
        src.withColumn("grid_ts", from_epoch_us(cell, ltz=True))
        .groupBy("grid_ts", *keys)
        .agg(
            *_merge_aggs(),
            F.count(F.lit(1)).alias("n_src_buckets"),
        )
    )


class TierReader:
    """Bound read façade over one logical series store: the tier dict +
    the chunk archive produced by the write path.

    ``aggregate(t0, t1, keys)``  — exact stats over any range
    (:func:`hybrid_read`); ``points(lo, hi, conv_ids)`` — raw turn rows
    from the archive (chunk-pruned decode).  Both never touch the
    original turns table.
    """

    def __init__(self, tier_dfs: dict[str, DataFrame], chunks: DataFrame):
        self.tiers = tier_dfs
        self.chunks = chunks

    def aggregate(self, t0, t1, keys: list[str] | None = None) -> DataFrame:
        return hybrid_read(self.tiers, self.chunks, t0, t1, keys)

    def points(self, lo, hi, conv_ids: list[str] | None = None) -> DataFrame:
        return decode_chunks_range(self.chunks, lo, hi, conv_ids=conv_ids)

    def query_range(
        self, t0, t1, step_seconds: int, keys: list[str] | None = None
    ) -> DataFrame:
        """PromQL ``query_range`` shape: one merged point per ``keys``
        per ``step`` over ``[t0, t1)``, served from the coarsest tier
        that divides the step (:func:`range_eval`)."""
        return range_eval(self.tiers, t0, t1, step_seconds, keys)
