"""Per-window heavy hitters (exact top-k over rolled-up tiers).

"Top tools per hour" is the dashboard form of the reference's
per-consumer counters (internal/metrics/metrics.go counts messages per
consumer/storage outcome; Grafana ranks them).  The scale-correct way
to answer it is NOT a rank over raw events: counts are mergeable, so
the engine first rolls raw turns into the (bucket, key) tier — the
same partial-aggregation cascade every other rollup uses — and ranks
*the tier*, which is orders of magnitude smaller than the input
(|buckets| × |keys| rows, regardless of raw volume).  At 100 TB the
rank's window shuffle therefore moves tier rows, not events, and the
rank within a bucket is a bounded sort over |keys| rows.

Exact, not sketched: the tier IS the exact count table, so top-k over
it is exact at any scale — a Space-Saving/CMS sketch would only be
needed if the key cardinality itself (not the event count) outgrew the
tier, which "tools per hour" style dimensions never do.  Ties break
deterministically (count desc, key asc) so results — and the DuckDB
contract oracle — are reproducible row-for-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def top_k_per_window(
    tier: DataFrame,
    window_cols: list[str],
    key_col: str,
    metric_col: str,
    k: int,
) -> DataFrame:
    """Rank keys by ``metric_col`` within each window; keep the top k.

    ``tier`` is an already-aggregated (window, key, metric) frame —
    e.g. the 1h rollup — so this adds one window shuffle over tier-
    sized data.  Output keeps all tier columns plus ``rank`` (1-based,
    ties broken by key ascending ⇒ deterministic).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    w = W.partitionBy(*window_cols).orderBy(
        F.col(metric_col).desc(), F.col(key_col).asc()
    )
    return (
        tier.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def top_k_with_others(
    tier: DataFrame,
    window_cols: list[str],
    key_col: str,
    metric_col: str,
    k: int,
    others_label: str = "__others__",
) -> DataFrame:
    """Grafana's "top N + Others" panel semantics: the top-k keys per
    window keep their identity; every remaining key collapses into ONE
    ``others_label`` row whose metric is their exact sum (so each
    window's rows still total the window — the property a stacked chart
    needs).  Windows with ≤ k keys emit no others row.

    Output: window_cols…, key_col, metric_col, ``rank`` (1..k, and
    k+1 for the others row).  Same single tier-sized window shuffle as
    :func:`top_k_per_window` plus one re-aggregation of the spilled
    keys, both over tier rows."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    w = W.partitionBy(*window_cols).orderBy(
        F.col(metric_col).desc(), F.col(key_col).asc()
    )
    ranked = tier.withColumn("rank", F.row_number().over(w).cast("int"))
    top = ranked.where(F.col("rank") <= k).select(
        *window_cols, key_col, metric_col, "rank"
    )
    others = (
        ranked.where(F.col("rank") > k)
        .groupBy(*window_cols)
        .agg(F.sum(metric_col).alias(metric_col))
        .withColumn(key_col, F.lit(others_label))
        .withColumn("rank", F.lit(k + 1).cast("int"))
        .select(*window_cols, key_col, metric_col, "rank")
    )
    return top.unionByName(others)
