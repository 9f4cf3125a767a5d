"""Cross-tier range stitching + tier-consistency auditing.

The tiered-TSDB query idiom (TimescaleDB continuous-aggregate
real-time queries, Druid/M3 tiered storage reads): an arbitrary
``[t0, t1)`` aggregate is answered WITHOUT touching raw turns by
covering the range with whole buckets from the coarsest tier that
fits — interior days from the 1d tier, edge hours from 1h, minute
fringes from 1m — and merging the (exact, re-aggregable) partials.
The reference delegates this shape to PostgreSQL per-range SQL over
raw rows (/root/reference/internal/storage/pgsql/pgsql.go:79-101,
one statement per message); at 10^12 turns re-scanning raw for every
dashboard zoom is the thing a tier cascade exists to avoid.

Scale design:
  * the covering plan is computed driver-side from two timestamps
    (pure arithmetic, O(#buckets in the range) with a trivial
    constant — no data touched);
  * each segment is a ``bucket_start`` range predicate on one tier
    table — literal bounds, so the filter pushes into the parquet /
    Iceberg scan (min-max row-group skipping, partition pruning on a
    ``days(bucket_start)``-partitioned tier);
  * the union of segment scans feeds ONE merge aggregation
    (`rollup._merge_aggs`, the same exact merge the cascade uses) —
    a single shuffle over tier-sized (not raw-sized) rows.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mq_to_db_spark.config import TIERS
from mq_to_db_spark.operators.rollup import _merge_aggs, cascade

#: tier bucket widths, coarsest first (the greedy covering's probe order)
_TIER_TD = {
    name: timedelta(seconds=sec) for name, _, sec, _ in reversed(TIERS)
}


def _floor(ts: datetime, tier: str) -> datetime:
    """Start of ``ts``'s ``tier`` bucket, in ``ts``'s own wall time."""
    return ts - (ts - datetime(1970, 1, 1, tzinfo=ts.tzinfo)) % _TIER_TD[tier]


def _as_dt(ts) -> datetime:
    if isinstance(ts, str):
        return datetime.fromisoformat(ts)
    return ts


def cover_range(
    t0, t1, tiers: tuple[str, ...] = ("1m", "1h", "1d")
) -> list[tuple[str, datetime, datetime]]:
    """Greedy coarsest-fit covering of ``[t0, t1)`` by whole tier buckets.

    Returns non-overlapping, contiguous ``(tier, lo, hi)`` segments whose
    union is exactly ``[t0, t1)``; each segment contains only whole
    buckets of its tier.  Greedy coarsest-aligned-fit is optimal for
    nested tiers (1m ⊂ 1h ⊂ 1d): at every cursor position the chosen
    bucket is the unique maximal one starting there that fits.

    Bounds must be minute-aligned (the finest tier cannot represent a
    sub-minute edge).
    """
    t0, t1 = _as_dt(t0), _as_dt(t1)
    if not t0 < t1:
        raise ValueError(f"empty range: {t0!r} >= {t1!r}")
    if _floor(t0, "1m") != t0 or _floor(t1, "1m") != t1:
        raise ValueError("stitch bounds must be minute-aligned")
    usable = [t for t in _TIER_TD if t in tiers]
    if "1m" not in usable:
        raise ValueError("the finest tier (1m) is required to cover edges")

    segs: list[list] = []
    cur = t0
    while cur < t1:
        for tier in usable:
            td = _TIER_TD[tier]
            if _floor(cur, tier) == cur and cur + td <= t1:
                break
        if segs and segs[-1][0] == tier and segs[-1][2] == cur:
            segs[-1][2] = cur + td
        else:
            segs.append([tier, cur, cur + td])
        cur += td
    return [tuple(s) for s in segs]


def stitch_range(
    tier_dfs: dict[str, DataFrame],
    t0,
    t1,
    keys: list[str] | None = None,
    aggregate: bool = True,
) -> DataFrame:
    """Answer an aggregate over ``[t0, t1)`` from tier tables alone.

    ``tier_dfs`` maps tier name → tier table in `rollup_from_raw` /
    `cascade` partial shape (the tables must form one consistent cascade
    of the same raw data).  With ``aggregate=True`` (default) returns one
    row per ``keys`` holding the exact merged stats plus provenance
    counters ``n_partials`` / ``n_1m`` / ``n_1h`` / ``n_1d`` (how many
    tier rows the answer merged — the audit trail that the coarse tiers
    actually served the interior).  With ``aggregate=False`` returns the
    covering rows themselves with a ``tier`` column (the dashboard-zoom
    shape: coarse interior, fine edges).
    """
    keys = list(keys or [])
    segs = cover_range(t0, t1, tiers=tuple(tier_dfs))
    parts = []
    for tier, lo, hi in segs:
        parts.append(
            tier_dfs[tier]
            .filter(
                (F.col("bucket_start") >= F.lit(lo))
                & (F.col("bucket_start") < F.lit(hi))
            )
            .withColumn("tier", F.lit(tier))
        )
    covering = reduce(lambda a, b: a.unionByName(b), parts)
    if not aggregate:
        return covering
    provenance = [
        F.count(F.lit(1)).alias("n_partials"),
        *[
            F.count_if(F.col("tier") == t).alias(f"n_{t}")
            for t in ("1m", "1h", "1d")
        ],
    ]
    return covering.groupBy(*keys).agg(*_merge_aggs(), *provenance)


def audit_tiers(
    finer: DataFrame,
    stored_coarser: DataFrame,
    coarser_tier: str,
    keys: list[str] | None = None,
    check_cols: tuple[str, ...] = ("n_turns", "token_sum", "text_len_sum"),
) -> DataFrame:
    """Tier-consistency audit: does the stored coarse tier equal the
    exact re-aggregation of the finer one?

    The invariant a continuous-aggregate engine must keep (and the one
    late data / partial refreshes break): ``stored_1d ==
    cascade(stored_1h, "1d")`` bucket-for-bucket.  Recomputes the truth
    via the same `cascade` merge, full-outer joins against the stored
    table on ``(bucket_start, keys)`` and emits ONLY violations, each
    labeled:

      * ``missing_in_stored`` — the finer tier has data the coarse tier
        never materialized (a refresh hole);
      * ``unexpected_in_stored`` — the coarse tier has a bucket with no
        finer-tier backing (stale data the retention/invalidation path
        should have removed);
      * ``mismatch`` — both exist but a checked stat differs (late data
        applied to one tier only); per-stat signed deltas
        (``stored - expected``) say by how much.

    One cascade agg + one key-partitioned join, both over tier-sized
    rows — never touches raw.
    """
    keys = list(keys or [])
    on = ["bucket_start", *keys]
    truth = cascade(finer, coarser_tier, keys).select(
        *on,
        F.lit(True).alias("_in_truth"),
        *[F.col(c).alias(f"_t_{c}") for c in check_cols],
    )
    stored = stored_coarser.select(
        *on,
        F.lit(True).alias("_in_stored"),
        *[F.col(c).alias(f"_s_{c}") for c in check_cols],
    )
    j = truth.join(stored, on, "full_outer")
    any_delta = reduce(
        lambda a, b: a | b,
        [
            F.coalesce(F.col(f"_s_{c}"), F.lit(0))
            != F.coalesce(F.col(f"_t_{c}"), F.lit(0))
            for c in check_cols
        ],
    )
    status = (
        F.when(F.col("_in_stored").isNull(), F.lit("missing_in_stored"))
        .when(F.col("_in_truth").isNull(), F.lit("unexpected_in_stored"))
        .when(any_delta, F.lit("mismatch"))
        .otherwise(F.lit("ok"))
    )
    deltas = [
        (
            F.coalesce(F.col(f"_s_{c}"), F.lit(0))
            - F.coalesce(F.col(f"_t_{c}"), F.lit(0))
        ).alias(f"d_{c}")
        for c in check_cols
    ]
    return (
        j.withColumn("status", status)
        .filter(F.col("status") != "ok")
        .select(*on, "status", *deltas)
    )


def rebin_histogram(
    hist: DataFrame,
    old_edges: list[float],
    new_edges: list[float],
    keys: list[str] | None = None,
) -> DataFrame:
    """Coarsen a fixed-bucket histogram to a subset of its edges.

    The Prometheus-operator rebinning idiom: a fine recording-rule
    histogram is kept at full resolution in the hot tier and collapsed
    to fewer buckets for long-retention tiers.  Exact iff every new
    bucket is a union of old buckets, i.e. ``new_edges ⊆ old_edges``
    (validated here, driver-side); the +inf bucket is implicit in both.
    Input/output is the `fixed_bucket_histogram` shape; one hash re-agg
    over tier-sized rows.
    """
    old = {float(e) for e in old_edges}
    new = sorted({float(e) for e in new_edges})
    if not set(new) <= old:
        raise ValueError(
            f"new edges must be a subset of old edges; extraneous: "
            f"{sorted(set(new) - old)}"
        )
    keys = list(keys or [])
    expr = F.lit(float("inf"))
    for e in reversed(new):
        expr = F.when(F.col("le") <= F.lit(e), F.lit(e)).otherwise(expr)
    return (
        hist.withColumn("le", expr)
        .groupBy("bucket_start", *keys, "le")
        .agg(F.sum("n").alias("n"))
    )
