"""Native exponential histograms (Prometheus native-histogram style).

Fixed-bucket histograms (operators/rollup.py ``fixed_bucket_histogram``)
need the bucket bounds chosen up front; exponential histograms don't —
every positive value ``v`` lands in the bucket with index
``idx = ceil(log2(v) · 2^schema)``, i.e. the bucket
``( base^(idx-1), base^idx ]`` with ``base = 2^(2^-schema)``.  The
``schema`` knob trades resolution for sketch size exactly like
Prometheus native histograms (schema 0 → factor-2 buckets, schema 2 →
factor 2^¼ ≈ 1.19, relative quantile error ≤ base − 1).  Values of zero
sit in a dedicated zero bucket; negative values mirror into a separate
negative-span map over ``|v|`` (Prometheus keeps positive and negative
spans apart for the same reason — bucket bounds are multiplicative).

The sketch row is ``(count, zero_count, sum, hist: map<int,bigint>,
neg_hist: map<int,bigint>)`` per ``(keys…, bucket_start)`` — mergeable
across the retention cascade by entry-wise count addition (the same
map-merge shape as the Count-Min rollup, operators/freq.py), so 1m
partials roll into 1h/1d without touching raw data, and two engine
instances can union their sketches.

Cross-engine exactness note (the contract relies on it): for positive
*integer* inputs at ``schema = 0``, ``ceil(log2(v))`` is deterministic
across IEEE-754 engines — ``log2`` of a power of two is exact, and for
any other integer the distance of ``log2(v)`` from the nearest integer
is ≥ ``log2(1 + 1/v)`` ≫ one ulp — so Spark and DuckDB agree bucket for
bucket.  Higher schemas put boundaries at irrational points
``2^(k/2^schema)``; integers keep a safe margin there too (property
tests cover schema ≤ 3), but the contract pins schema 0 where the
argument is airtight.

Everything here is JVM expressions (log2/ceil/map functions) — no
Python crossing, plan-asserted in tests.

Reference analogue: the metrics plane the reference exposes to
Prometheus (christiangda/mq-to-db internal/metrics/prometheus.go) —
this operator is the modern (native-histogram) form of its classic
fixed-bucket histograms.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from mq_to_db_spark.operators.rollup import bucket_col, sorted_count_map

__all__ = [
    "exp_bucket_idx",
    "exp_histogram",
    "cascade_exp_histogram",
    "exp_hist_explode",
    "exp_hist_quantile",
    "exp_hist_fraction",
    "exp_hist_stats",
    "exp_hist_stats_exact",
]


def exp_bucket_idx(value: Column, schema: int = 0) -> Column:
    """Bucket index of a positive value: ``ceil(log2(v) · 2^schema)``
    (NULL for ``v <= 0`` — callers route zero/negative separately)."""
    factor = 1 << schema
    raw = F.ceil(F.log2(value) * F.lit(factor)).cast("int")
    return F.when(value > 0, raw)


def exp_histogram(
    df: DataFrame,
    tier: str,
    value_col: str,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    schema: int = 0,
) -> DataFrame:
    """One exponential histogram per ``(keys…, bucket_start)``:
    ``(count, zero_count, sum, hist, neg_hist)``.  ``count`` spans all
    non-null values (positive + zero + negative); ``sum`` is their plain
    sum (callers pass integer-scaled values for exact replay).

    Plan: one narrow projection (idx expression), then TWO hash aggs —
    per-(group, idx) counting (map-side combined; the idx key spreads
    hot series across reducers) and the map assembly.  No Python, no
    window, no skew cliff: per-group state is O(#buckets) ≈ 64·2^schema.
    """
    keys = list(keys or [])
    v = F.col(value_col)
    staged = df.filter(v.isNotNull()).select(
        *keys,
        bucket_col(tier, ts_col).alias("bucket_start"),
        v.alias("_v"),
        F.signum(v).cast("int").alias("_sign"),
        exp_bucket_idx(F.abs(v), schema).alias("_idx"),  # NULL ⇔ zero bucket
    )
    per_idx = staged.groupBy(*keys, "bucket_start", "_sign", "_idx").agg(
        F.count(F.lit(1)).alias("_cnt"), F.sum("_v").alias("_sum")
    )
    return per_idx.groupBy(*keys, "bucket_start").agg(
        F.sum("_cnt").alias("count"),
        F.sum(F.when(F.col("_sign") == 0, F.col("_cnt")).otherwise(F.lit(0))).alias(
            "zero_count"
        ),
        F.sum("_sum").alias("sum"),
        sorted_count_map("_idx", "_cnt", F.col("_sign") == 1).alias("hist"),
        sorted_count_map("_idx", "_cnt", F.col("_sign") == -1).alias("neg_hist"),
    )


def cascade_exp_histogram(
    sketches: DataFrame, to_tier: str, keys: list[str] | None = None
) -> DataFrame:
    """Merge fine-tier histogram rows into ``to_tier`` windows —
    entry-wise count addition over already-tiny sketch rows (input:
    :func:`exp_histogram` output shape).  Exact: bucket boundaries are
    schema-determined, so merging never re-buckets a value."""
    keys = list(keys or [])
    coarse = bucket_col(to_tier, "bucket_start").alias("bucket_start")
    meta = sketches.groupBy(*keys, coarse).agg(
        F.sum("count").alias("count"),
        F.sum("zero_count").alias("zero_count"),
        F.sum("sum").alias("sum"),
    )

    def _merge(col: str) -> DataFrame:
        return (
            sketches.select(*keys, coarse, F.explode_outer(col).alias("_idx", "_cnt"))
            .groupBy(*keys, "bucket_start", "_idx")
            .agg(F.sum("_cnt").alias("_cnt"))
            .groupBy(*keys, "bucket_start")
            .agg(sorted_count_map("_idx", "_cnt", F.col("_idx").isNotNull()).alias(col))
        )

    out = meta.join(_merge("hist"), [*keys, "bucket_start"], "inner").join(
        _merge("neg_hist"), [*keys, "bucket_start"], "inner"
    )
    return out


def exp_hist_explode(
    sketches: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Flatten the positive-span map to ``(keys…, bucket_start,
    bucket_idx, n)`` rows — the exposition / contract-check shape."""
    keys = list(keys or [])
    return sketches.select(
        *keys, "bucket_start", F.explode("hist").alias("bucket_idx", "n")
    )


def exp_hist_quantile(
    sketches: DataFrame,
    q: float,
    schema: int = 0,
    out_col: str = "qv",
    keys: list[str] | None = None,
) -> DataFrame:
    """Quantile estimate from the positive span: find the bucket where
    the cumulative count crosses ``rank = q · Σn``, then interpolate
    linearly inside its ``(base^(idx-1), base^idx]`` bounds — the same
    estimator as PromQL's ``histogram_quantile`` on native histograms.
    Relative error ≤ ``base − 1`` (factor-2 at schema 0).

    One explode + one per-group window ordered by bucket index — group
    cardinality is the TIER table, per-group rows ≤ #buckets, so the
    window partitions are tiny and uniformly keyed (no skew cliff)."""
    keys = list(keys or [])
    factor = 1 << schema
    ex = sketches.select(
        *keys,
        "bucket_start",
        F.explode("hist").alias("_idx", "_n"),
    )
    w = W.partitionBy(*keys, "bucket_start").orderBy("_idx")
    ranked = (
        ex.withColumn("_cum", F.sum("_n").over(w))
        .withColumn("_total", F.sum("_n").over(W.partitionBy(*keys, "bucket_start")))
        .withColumn("_rank", F.lit(q) * F.col("_total"))
        .filter(F.col("_cum") >= F.col("_rank"))
    )
    first = ranked.groupBy(*keys, "bucket_start").agg(
        F.min_by(
            F.struct("_idx", "_n", "_cum", "_rank"), F.col("_idx")
        ).alias("_b")
    )
    idx = F.col("_b._idx").cast("double")
    lo = F.pow(F.lit(2.0), (idx - 1) / F.lit(float(factor)))
    hi = F.pow(F.lit(2.0), idx / F.lit(float(factor)))
    est = lo + (hi - lo) * (
        (F.col("_b._rank") - (F.col("_b._cum") - F.col("_b._n"))) / F.col("_b._n")
    )
    return first.select(*keys, "bucket_start", est.alias(out_col))


def exp_hist_stats(
    sketches: DataFrame,
    schema: int = 0,
    keys: list[str] | None = None,
) -> DataFrame:
    """PromQL ``histogram_avg`` / ``histogram_stddev`` on the positive
    span of a native exponential sketch: mean and standard deviation
    estimated from bucket midpoints ``mid_i = (2^((i-1)/2^s) + 2^(i/2^s))/2``
    (the within-bucket point-mass-at-midpoint model Prometheus'
    ``funcHistogramStdDev`` uses when only bucket counts are known).

    Plan shape: ZERO shuffle — each sketch row already holds its whole
    map, so N, Σ n·mid and Σ n·mid² are per-row ``aggregate`` folds over
    ``map_entries`` sorted by bucket index (deterministic fold order),
    then ``mean = S1/N`` and ``stddev = sqrt(S2/N − mean²)`` in one fixed
    expression tree.

    Exactness discipline (schema 0, the contract case): ``mid_i =
    1.5·2^(i−1)`` and ``mid_i²`` are exact binary doubles, so every term
    ``n·mid`` is an exact half-integer and the fold sums are EXACT for
    any realistic magnitude (< 2^53) — order-independent by exactness,
    not by luck — which is what lets the DuckDB oracle hash-match the
    final rounded doubles.  Higher schemas keep the sorted fold (stable,
    engine-deterministic) but midpoints are irrational, so cross-engine
    equality is approximate there.

    Emits ``n_obs`` (BIGINT), ``mean``, ``stddev`` (population form,
    NULL when the sketch is empty; 0.0 for single-bucket mass only if
    the spread is genuinely zero — midpoint model gives 0 variance for
    one bucket).
    """
    keys = list(keys or [])
    factor = float(1 << schema)
    ent = F.array_sort(F.map_entries("hist"))  # sorted by bucket index
    idx = lambda e: e["key"].cast("double")  # noqa: E731
    lo = lambda e: F.pow(F.lit(2.0), (idx(e) - 1) / F.lit(factor))  # noqa: E731
    hi = lambda e: F.pow(F.lit(2.0), idx(e) / F.lit(factor))  # noqa: E731
    mid = lambda e: (lo(e) + hi(e)) / F.lit(2.0)  # noqa: E731
    n_obs = F.aggregate(
        ent, F.lit(0).cast("long"), lambda acc, e: acc + e["value"]
    )
    s1 = F.aggregate(
        ent,
        F.lit(0.0),
        lambda acc, e: acc + e["value"].cast("double") * mid(e),
    )
    s2 = F.aggregate(
        ent,
        F.lit(0.0),
        lambda acc, e: acc + e["value"].cast("double") * (mid(e) * mid(e)),
    )
    nd = n_obs.cast("double")
    mean = s1 / nd
    var = s2 / nd - (s1 / nd) * (s1 / nd)
    stddev = F.sqrt(F.greatest(var, F.lit(0.0)))
    return sketches.select(
        *keys,
        "bucket_start",
        n_obs.alias("n_obs"),
        F.when(n_obs > 0, mean).alias("mean"),
        F.when(n_obs > 0, stddev).alias("stddev"),
    )


def exp_hist_stats_exact(
    sketches: DataFrame,
    keys: list[str] | None = None,
) -> DataFrame:
    """Integer-EXACT moment surface of a schema-0 exponential sketch:
    ``n_obs``, ``s1_x4 = 4·Σ n·mid_i`` and ``s2_x16 = 16·Σ n·mid_i²``
    as BIGINT.  At schema 0 ``mid_i = 1.5·2^(i−1)``, so ``4·mid_i =
    3·2^i`` and ``16·mid_i² = 9·4^i`` are exact integers for every
    bucket index ``i ≥ 0`` — the fold sums are pure integer arithmetic,
    order-independent, and hash bit-identically across engines (the
    cross-engine contract surface; :func:`exp_hist_stats` keeps the
    float mean/stddev API, whose final ``round(x, 6)`` can disagree
    between Spark's BigDecimal HALF_UP and other engines' multiply-
    round-divide when a value lands within an ulp of a .5×10⁻⁶
    boundary).

    Callers recover the float moments as ``mean = s1_x4/(4·n_obs)``
    and ``var = s2_x16/(16·n_obs) − mean²``.

    Validity bounds (outputs NULL when violated, never silently
    wrong): every bucket index must be in ``[0, 29]`` (values ≥ 1 and
    per-term ``9·4^idx < 2^63``); the per-group sum must also fit a
    BIGINT, i.e. ``n_obs · 9·4^max_idx < 2^63`` (``s2_x16`` of 4
    observations at idx 29 does not) — at larger scale
    aggregate per finer key/tier first or sum the exploded buckets as
    DECIMAL(38,0).

    Plan shape: identical to :func:`exp_hist_stats` — ZERO shuffle,
    per-row sorted-map folds, whole-stage codegen."""
    keys = list(keys or [])
    ent = F.array_sort(F.map_entries("hist"))
    n_obs = F.aggregate(
        ent, F.lit(0).cast("long"), lambda acc, e: acc + e["value"]
    )
    # try_ arithmetic: a term or running sum past BIGINT turns the fold
    # NULL (and NULL stays NULL) instead of aborting the query under ANSI
    s1 = F.aggregate(
        ent,
        F.lit(0).cast("long"),
        lambda acc, e: F.try_add(
            acc,
            F.try_multiply(
                e["value"].cast("long"),
                F.call_function("shiftleft", F.lit(3).cast("long"), e["key"]),
            ),
        ),
    )
    s2 = F.aggregate(
        ent,
        F.lit(0).cast("long"),
        lambda acc, e: F.try_add(
            acc,
            F.try_multiply(
                e["value"].cast("long"),
                F.call_function(
                    "shiftleft", F.lit(9).cast("long"), e["key"] * F.lit(2)
                ),
            ),
        ),
    )
    ok = F.aggregate(
        ent,
        F.lit(True),
        lambda acc, e: acc & (e["key"] >= 0) & (e["key"] <= 29),
    )
    return sketches.select(
        *keys,
        "bucket_start",
        n_obs.alias("n_obs"),
        F.when(ok, s1).alias("s1_x4"),
        F.when(ok, s2).alias("s2_x16"),
    )


def exp_hist_fraction(
    sketches: DataFrame,
    upper: float,
    schema: int = 0,
    out_col: str = "fraction",
    keys: list[str] | None = None,
) -> DataFrame:
    """PromQL ``histogram_fraction(0, upper, h)`` on the positive span:
    the share of observations ≤ ``upper`` — buckets entirely below the
    bound count whole, the straddling bucket contributes linearly
    (the same within-bucket uniformity assumption as
    :func:`exp_hist_quantile`), buckets above contribute nothing.
    Denominator is the positive-span total (callers with zero/negative
    populations divide against ``count`` themselves — PromQL's native
    fraction has the same span-choice subtlety).

    One explode + one hash agg: each entry contributes a closed-form
    weight, no window at all.  Exactness discipline: fully-below buckets
    sum as BIGINT (order-independent), and at most ONE bucket straddles
    the fixed bound, so its single double weight joins the sum exactly
    once — the result is bit-identical regardless of aggregation order,
    which is what lets the DuckDB oracle hash-match.
    """
    keys = list(keys or [])
    factor = 1 << schema
    ex = sketches.select(
        *keys, "bucket_start", F.explode("hist").alias("_idx", "_n")
    )
    idx = F.col("_idx").cast("double")
    lo = F.pow(F.lit(2.0), (idx - 1) / F.lit(float(factor)))
    hi = F.pow(F.lit(2.0), idx / F.lit(float(factor)))
    u = F.lit(float(upper))
    whole = F.when(hi <= u, F.col("_n")).otherwise(F.lit(0))
    straddle = F.when(
        (lo < u) & (u < hi), F.col("_n") * ((u - lo) / (hi - lo))
    ).otherwise(F.lit(0.0))
    return (
        ex.groupBy(*keys, "bucket_start")
        .agg(
            F.sum(whole).alias("_whole"),
            F.sum(straddle).alias("_str"),
            F.sum("_n").alias("_tot"),
        )
        .select(
            *keys,
            "bucket_start",
            ((F.col("_whole") + F.col("_str")) / F.col("_tot")).alias(out_col),
        )
    )
