"""Mergeable quantile sketches: DDSketch-style relative-error buckets.

The reference exposes latency distributions as Prometheus histograms with
*fixed* buckets (/root/reference/internal/metrics/metrics.go:95-133), and
the engine's `histogram_quantile` (operators/rollup.py:289) replicates
that read path.  Fixed buckets cap accuracy at whatever the operator
chose up front; this module adds the complementary modern primitive —
the DDSketch family (Masson et al., VLDB'19): logarithmic buckets with a
*relative* accuracy guarantee (the q-quantile estimate is within
±alpha·true value), and a merge that is plain bucket-wise count
addition — associative, commutative, deterministic, so sketches cascade
across the 1m→1h→1d retention tiers exactly like count/sum/min/max
(the C8 mergeability invariant), which quantiles computed exactly per
tier cannot do.

Index function (the paper's logarithmic mapping):

    gamma = (1 + alpha) / (1 - alpha)
    idx(x) = ceil( ln(x) / ln(gamma) )        for x > 0
    estimate(idx) = 2 * gamma^idx / (gamma + 1)   (bucket midpoint)

Values ≤ 0 land in a dedicated ``zero_count`` (transcript metrics are
non-negative; a latency of exactly 0 is representable).

Scale design:
  * the sketch is built with TWO hash aggregations — (keys, bucket, idx)
    counts, then (keys, bucket) map assembly — both with map-side partial
    aggregation; no UDF, no window, no collect of raw values;
  * a sketch row is O(buckets-touched) ≈ O(log(value range)/alpha) —
    bounded and tiny (≈ a few hundred entries worst-case) regardless of
    how many raw points fed it, so the cascade shuffles sketch rows, not
    data;
  * merging explodes map entries and re-sums per coarser bucket — again
    pure hash aggregation;
  * quantile extraction is a higher-order ``aggregate`` over the (sorted)
    map entries — one pass per row, no shuffle.

Determinism note: ``idx`` uses IEEE double ``ln``; a value sitting within
one ulp of a bucket boundary could in principle bin differently on
another engine's libm.  The fixtures never do (the contract oracle
replays the same mapping in DuckDB and hash-matches), and a one-off
boundary flip changes an estimate by at most the guaranteed relative
error anyway.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from mq_to_db_spark.operators.rollup import bucket_col, sorted_count_map


def _gamma(alpha: float) -> float:
    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    return (1 + alpha) / (1 - alpha)


def sketch_index(value: Column, alpha: float) -> Column:
    """DDSketch bucket index for positive values; NULL for values ≤ 0
    (those are tallied in ``zero_count``)."""
    g = _gamma(alpha)
    return F.when(
        value > 0, F.ceil(F.log(value) / F.lit(math.log(g))).cast("int")
    )


def quantile_sketch_rollup(
    df: DataFrame,
    tier: str,
    keys: list[str] | None = None,
    value_col: str = "value",
    ts_col: str = "ts",
    alpha: float = 0.05,
) -> DataFrame:
    """One DDSketch per ``(keys…, bucket_start)`` tier window:
    ``(…, zero_count, n, sketch: map<int,bigint>)``.

    ``n`` counts every non-null value (zero bucket included), so
    ``sketch_quantile`` ranks against the full distribution."""
    keys = list(keys or [])
    idx = sketch_index(F.col(value_col), alpha)
    per_idx = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, bucket_col(tier, ts_col).alias("bucket_start"), idx.alias("_idx"))
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    return (
        per_idx.groupBy(*keys, "bucket_start")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("_idx").isNull(), F.col("_cnt"))), F.lit(0)
            ).alias("zero_count"),
            F.sum("_cnt").alias("n"),
            sorted_count_map("_idx", "_cnt", F.col("_idx").isNotNull()).alias("sketch"),
        )
    )


def cascade_quantile_sketch(
    sketches: DataFrame, to_tier: str, keys: list[str] | None = None
) -> DataFrame:
    """Merge fine-tier sketches into ``to_tier`` windows: bucket-wise
    count addition (the DDSketch merge — exact, order-independent).
    Input must be the output shape of :func:`quantile_sketch_rollup`."""
    keys = list(keys or [])
    coarse = bucket_col(to_tier, "bucket_start").alias("bucket_start")
    # zero/n merge over sketch ROWS (one per fine window — exploding
    # first would duplicate them per map entry); the map merges via
    # explode + re-sum.  Both aggregations run over already-tiny
    # sketch rows, never raw data.
    meta = (
        sketches.groupBy(*keys, coarse)
        .agg(F.sum("zero_count").alias("zero_count"), F.sum("n").alias("n"))
    )
    merged_counts = (
        sketches.select(*keys, coarse, F.explode("sketch").alias("_idx", "_cnt"))
        .groupBy(*keys, "bucket_start", "_idx")
        .agg(F.sum("_cnt").alias("_cnt"))
        .groupBy(*keys, "bucket_start")
        .agg(sorted_count_map("_idx", "_cnt").alias("sketch"))
    )
    join_keys = [*keys, "bucket_start"]
    return meta.join(merged_counts, join_keys, "left").withColumn(
        "sketch",
        F.coalesce(F.col("sketch"), F.map_from_entries(F.array().cast("array<struct<key:int,value:bigint>>"))),
    )


def sketch_quantile(
    sketches: DataFrame, q: float, alpha: float = 0.05, out_col: str | None = None
) -> DataFrame:
    """Append the q-quantile estimate (rounded to 6 decimals) extracted
    from each sketch row: rank ``r = floor(q·(n-1))``; if the zero bucket
    covers r the estimate is 0, else walk buckets ascending until the
    cumulative count exceeds r and report that bucket's midpoint
    ``2·gamma^idx/(gamma+1)``.  One ``aggregate`` pass over the sorted
    map entries — no shuffle, no UDF."""
    if not 0 <= q <= 1:
        raise ValueError(f"q must be in [0, 1], got {q}")
    g = _gamma(alpha)
    out_col = out_col or f"q{int(round(q * 100)):02d}"
    r = F.floor(F.lit(q) * (F.col("n") - 1)).cast("long")
    # accumulator: (cum count so far, found idx or null)
    found = F.aggregate(
        F.map_entries("sketch"),
        F.struct(
            F.col("zero_count").cast("long").alias("cum"),
            F.lit(None).cast("int").alias("idx"),
        ),
        lambda acc, e: F.when(acc["idx"].isNotNull(), acc).otherwise(
            F.struct(
                (acc["cum"] + e["value"]).alias("cum"),
                F.when(acc["cum"] + e["value"] > r, e["key"]).alias("idx"),
            )
        ),
        lambda acc: acc["idx"],
    )
    est = F.when(F.col("n") <= 0, F.lit(None).cast("double")).otherwise(
        F.when(F.col("zero_count") > r, F.lit(0.0)).otherwise(
            F.round(
                F.lit(2.0) * F.pow(F.lit(g), found) / F.lit(g + 1.0), 6
            )
        )
    )
    return sketches.withColumn(out_col, est)


# --------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch
# --------------------------------------------------------------------------
#
# The mergeable DISTINCT sibling of the DDSketch above: keep the k
# smallest distinct hash values of the observed elements (Bar-Yossef et
# al. 2002; the estimator behind Theta/KMV sketches).  The estimate is
#
#     n_distinct ≈ (k - 1) * HASH_SPACE / h_(k)     (h_(k) = kth smallest)
#
# and EXACT (= the sketch size) whenever fewer than k distinct elements
# were seen.  Merge = union of the hash sets re-trimmed to the k
# smallest — associative, commutative, idempotent — so KMV sketches
# cascade across the 1m→1h→1d retention tiers exactly like the HLL
# registers in rollup.py (C8 mergeability), while staying exactly
# replayable in ANSI SQL (the HLL sketch is not: its register layout is
# Spark-internal, which is why distinct_users_1h checks HLL against the
# exact count instead).  bottom-k(union) == bottom-k(union of bottom-ks),
# so a cascaded sketch is bit-identical to one built from raw data.
#
# Scale design:
#   * hashes ride the `hash_u60` md5 coin (JVM codegen, one hash/row);
#   * dedup is ONE hash aggregation on (keys, bucket, h) with map-side
#     partial combine — the heavy shuffle carries bare 8-byte hashes;
#   * per-group bottom-k is a sort-based window (row_number ≤ k) — fully
#     spillable, no per-group memory proportional to distinct count
#     (a collect_list-then-slice would buffer EVERY distinct hash);
#   * the final assembly groupBy reuses the window's exchange (grouping
#     keys ⊆ window partition keys → no third shuffle);
#   * a sketch row is O(k) longs regardless of input size, so cascades
#     shuffle sketches, not data.

from mq_to_db_spark.operators.sampling import HASH_SPACE, hash_u60  # noqa: E402


def kmv_sketch(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    tier: str = "1h",
    ts_col: str = "ts",
    k: int = 64,
    seed: int | str = 42,
) -> DataFrame:
    """Per ``(keys…, bucket_start)``: the sorted array of the ``k``
    smallest distinct 60-bit hashes of ``value_col`` (column ``kmv``),
    NULL elements excluded."""
    hashed = (
        df.where(F.col(value_col).isNotNull())
        .select(
            *keys,
            bucket_col(tier, ts_col).alias("bucket_start"),
            hash_u60(value_col, seed=seed).alias("_h"),
        )
        .groupBy(*keys, "bucket_start", "_h")
        .agg(F.lit(1).alias("_one"))
    )
    w = W.partitionBy(*keys, "bucket_start").orderBy("_h")
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .groupBy(*keys, "bucket_start")
        .agg(F.sort_array(F.collect_list("_h")).alias("kmv"))
    )


def kmv_merge(
    sketches: DataFrame,
    keys: list[str],
    bucket_expr: Column,
    k: int = 64,
    kmv_col: str = "kmv",
) -> DataFrame:
    """Merge fine-tier sketches into coarser groups: union the hash
    sets, keep the k smallest.  Same window-bottom-k plan as the build
    (the per-row explode fans out ≤ k rows per input sketch)."""
    exploded = sketches.select(
        *keys,
        bucket_expr.alias("bucket_start"),
        F.explode(kmv_col).alias("_h"),
    ).groupBy(*keys, "bucket_start", "_h").agg(F.lit(1).alias("_one"))
    w = W.partitionBy(*keys, "bucket_start").orderBy("_h")
    return (
        exploded.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .groupBy(*keys, "bucket_start")
        .agg(F.sort_array(F.collect_list("_h")).alias("kmv"))
    )


def kmv_estimate(
    sketches: DataFrame, k: int = 64, kmv_col: str = "kmv"
) -> DataFrame:
    """Append the distinct-count estimate: exact sketch size when the
    sketch never filled (< k hashes), else ``(k-1) * 2^60 / h_(k)``
    rounded to 6 dp.  Also surfaces the integer-exact pieces
    (``n_hashes``, ``kth_hash``) so the contract hash-match rides
    BIGINTs plus one reproducible double division."""
    n = F.size(kmv_col)
    kth = F.element_at(F.col(kmv_col), k)
    est = F.when(n < k, n.cast("double")).otherwise(
        F.round(
            F.lit(float(k - 1)) * F.lit(float(HASH_SPACE)) / kth.cast("double"), 6
        )
    )
    return sketches.select(
        "*",
        n.cast("long").alias("n_hashes"),
        F.when(n >= k, kth).alias("kth_hash"),
        est.alias("est_distinct"),
    )
