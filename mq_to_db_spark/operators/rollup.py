"""Continuous-aggregate rollups at 1m/1h/1d retention tiers.

This is the engine's promotion of the reference's *metrics plane* to
first-class operators (SURVEY.md §2.C): the reference counts messages per
consumer/worker with Prometheus counters
(/root/reference/internal/metrics/metrics.go:95-183) and its dashboard
computes windowed rates and quantiles over them
(docker-compose/grafana/dashboards/mq-to-db.json:239,868).  Here the same
aggregate semantics — monotonic counts per key (C1/C2), windowed rate (C3),
histogram/quantile (C4/C5), gauge/last (C6), sum/avg (C7), multi-tier
retention (C8) — are tumbling-window hash aggregations over transcript
turns, executed by stock Catalyst (partial + final aggregation, whole-stage
codegen; no UDFs anywhere on this path).

Design for 10^12-turn scale:
  * every stat kept in the tier tables is **re-aggregable** (count / sum /
    min / max / sum-of-squares / per-role counts), so the 1h tier is an
    exact merge of 1m partials and 1d of 1h — the cascade
    (``rollup_tiers``) touches raw data exactly once, and
    ``rollup_grouping_sets`` gives the same partials of every tier and
    dimension from one aggregation, with no cascade stage at all;
  * bucket = ``date_trunc`` (deterministic tumbling alignment, no window
    struct shuffle overhead, and ``date_trunc('hour', bucket_1m)`` makes
    the cascade itself a plain hash agg);
  * quantiles are not mergeable exactly: ``p90`` of text length is
    computed per tier **from raw** only where requested
    (``percentile_approx``, t-digest-style sketch on the JVM side) and is
    excluded from the cascade invariant (documented deviation, SURVEY.md
    §7 hard part 2);
  * optional two-stage *salted* aggregation for hot keys: stage 1 groups
    by (keys, salt) producing partials, stage 2 merges — the same merge
    expressions as the tier cascade.  For plain hash aggs Spark's partial
    aggregation already bounds skew; salting is load-bearing for grouped
    operations that bypass partial agg (collect-based codec chunking) and
    is exposed here for parity with the north_rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mq_to_db_spark.config import TIER_SECONDS, TIER_UNIT
from mq_to_db_spark.functions.text import token_count_ws

ROLE_NAMES = ("user", "assistant", "system", "tool")

#: output columns of _partial_aggs / _merge_aggs (shape-preserving merge)
AGG_COL_NAMES = [
    "n_turns",
    "text_len_sum",
    "text_len_min",
    "text_len_max",
    "text_len_sumsq",
    "token_sum",
    *[f"n_{r}" for r in ROLE_NAMES],
]


def with_text_stats(df: DataFrame) -> DataFrame:
    """Project per-turn text measures (JVM-side, codegen'd).

    ``token_count`` = ``functions.text.token_count_ws``, the whitespace-token
    count (0 for empty/blank text).
    """
    text_len = F.coalesce(F.length("text"), F.lit(0))
    return df.withColumn("text_len", text_len.cast("long")).withColumn(
        "token_count", token_count_ws("text")
    )


def _partial_aggs() -> list:
    """Aggregate expressions from raw turns → tier partials."""
    aggs = [
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("text_len").alias("text_len_sum"),
        F.min("text_len").alias("text_len_min"),
        F.max("text_len").alias("text_len_max"),
        F.sum(F.col("text_len") * F.col("text_len")).alias("text_len_sumsq"),
        F.sum("token_count").alias("token_sum"),
    ]
    aggs += [
        F.count_if(F.col("role") == r).alias(f"n_{r}") for r in ROLE_NAMES
    ]
    return aggs


def _merge_aggs() -> list:
    """Merge expressions partials → coarser-tier partials (exact)."""
    aggs = [
        F.sum("n_turns").alias("n_turns"),
        F.sum("text_len_sum").alias("text_len_sum"),
        F.min("text_len_min").alias("text_len_min"),
        F.max("text_len_max").alias("text_len_max"),
        F.sum("text_len_sumsq").alias("text_len_sumsq"),
        F.sum("token_sum").alias("token_sum"),
    ]
    aggs += [F.sum(f"n_{r}").alias(f"n_{r}") for r in ROLE_NAMES]
    return aggs


def bucket_col(tier: str, ts_col: str = "ts"):
    return F.date_trunc(TIER_UNIT[tier], F.col(ts_col))


def sorted_count_map(key: str, value: str, where=None):
    """Aggregate: the grouped rows' ``key → value`` map, entries sorted
    by key so a replay assembles the identical map — the one assembly
    behind every count-map sketch (CMS, DDSketch, exp-histogram, HLL).
    Only rows satisfying ``where`` (a Column, default all) contribute:
    ``collect_list`` skips the NULL entries the others become."""
    entry = F.struct(F.col(key).alias("key"), F.col(value).alias("value"))
    if where is not None:
        entry = F.when(where, entry)
    return F.map_from_entries(F.array_sort(F.collect_list(entry)))


def rollup_from_raw(
    df: DataFrame,
    tier: str,
    keys: list[str] | None = None,
    salt_buckets: int = 0,
    with_p90: bool = False,
) -> DataFrame:
    """Tumbling-window rollup of raw turns at ``tier``.

    ``keys`` are extra series dimensions (e.g. ``["conv_id"]`` or
    ``["tool"]``); bucket column is ``bucket_start``.  With
    ``salt_buckets > 0`` runs the two-stage salted aggregation.
    """
    keys = list(keys or [])
    prepped = with_text_stats(df).withColumn("bucket_start", bucket_col(tier))
    group = ["bucket_start", *keys]

    if salt_buckets > 0:
        salted = prepped.withColumn(
            "_salt", F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(salt_buckets))
        )
        partial = salted.groupBy(*group, "_salt").agg(*_partial_aggs())
        out = partial.groupBy(*group).agg(*_merge_aggs())
    else:
        out = prepped.groupBy(*group).agg(*_partial_aggs())

    if with_p90:
        # Quantile from raw (not mergeable across tiers) — approx via
        # JVM-side percentile_approx with tight accuracy.
        p90 = prepped.groupBy(*group).agg(
            F.percentile_approx("text_len", 0.9, 10000).alias("text_len_p90")
        )
        out = out.join(p90, group, "left")
    return out


def cascade(df_finer: DataFrame, coarser_tier: str, keys: list[str] | None = None) -> DataFrame:
    """Exact merge of a finer tier's partials into ``coarser_tier``.

    1h = merge(1m), 1d = merge(1h): raw data is read once per cascade
    chain, the dominant cost at 10^12 turns.
    """
    keys = list(keys or [])
    # Note: text_len_p90 (if present on the finer tier) is intentionally not
    # merged — EXACT quantiles are not mergeable; callers either recompute
    # from raw via rollup_from_raw(..., with_p90=True) or keep a mergeable
    # DDSketch alongside the tier (operators/sketch.py, which cascades
    # bucket-wise like these counts).
    return (
        df_finer.withColumn("bucket_start", bucket_col(coarser_tier, "bucket_start"))
        .groupBy("bucket_start", *keys)
        .agg(*_merge_aggs())
    )


def rollup_tiers(
    df: DataFrame,
    keys: list[str] | None = None,
    tiers: tuple[str, ...] = ("1m", "1h", "1d"),
    salt_buckets: int = 0,
    persist: bool = False,
) -> dict[str, DataFrame]:
    """Build the full tier cascade: tiers[0] from raw, each next tier from
    the previous one.

    ``persist=True`` caches every non-final tier — the in-memory
    stand-in for the production pipeline's *materialized* tier tables:
    a consumer that reads several tiers of one cascade (stitch/audit/
    hybrid-read) otherwise re-evaluates the finest tier's raw scan once
    per coarser tier (1m's agg runs 3× for a 1m/1h/1d read).  The
    CALLER owns these caches (ADVICE r04): unpersist each returned
    tier (or ``spark.catalog.clearCache()``) when done — a long-lived
    session building many cascades otherwise leans on LRU eviction."""
    out: dict[str, DataFrame] = {}
    finer = None
    for t in tiers:
        if finer is None:
            out[t] = rollup_from_raw(df, t, keys, salt_buckets=salt_buckets)
        else:
            out[t] = cascade(out[finer], t, keys)
        if persist and t != tiers[-1]:
            out[t] = out[t].persist()
        finer = t
    return out


def rollup_grouping_sets(
    df: DataFrame,
    dims: dict[str, list[str]],
    tiers: tuple[str, ...] = ("1m", "1h", "1d"),
    extra_group_cols: list[str] | None = None,
) -> DataFrame:
    """Every (tier, dimension) partial of raw turns from ONE aggregation.

    The naive plan (one ``rollup_tiers`` per dimension) scans raw once per
    dimension per tier — 9 scans for 3 dims × 3 tiers — and a cascade
    (1h from 1m, 1d from 1h) adds one aggregate-and-shuffle stage per
    coarser tier.  Here each tier gets its own bucket column and every
    ``(tier, dim)`` pair is one ``GROUPING SETS`` set
    ``extra + bucket_<tier> + keys``: ONE scan, one Expand (after the
    projection, so text stats are computed once per input row) and ONE
    shuffle of map-side partial aggregates.  Every stat is an exact
    count/sum/min/max, so a 1h or 1d partial is the same value the
    cascade's merge of finer partials gives.

    ``dims`` maps dimension name → series key columns, e.g.
    ``{"global": [], "conv": ["conv_id"], "tool": ["tool"]}``.

    The frame carries ``tier`` and ``dim`` label columns, both read from
    ``grouping_id`` (which also tells a *legitimately NULL* key, e.g.
    ``tool`` on non-tool turns, from a key another set aggregated away),
    ``bucket_start`` (the coalesce of the bucket columns: a set keeps
    exactly one) and the union of key columns.

    ``extra_group_cols`` are columns present in EVERY grouping set (e.g.
    the pipeline's ``(conv_bucket, date)`` partition-unit columns), so the
    output stays partition-addressable for idempotent overwrites.
    """
    extra = list(extra_group_cols or [])
    all_keys = list(dict.fromkeys(k for keys in dims.values() for k in keys))
    buckets = {t: f"_bucket_{t}" for t in tiers}
    grouping_cols = [*extra, *buckets.values(), *all_keys]

    # grouping_id bit i (MSB-first over grouping_cols) = 1 when the column
    # is aggregated away in that set.
    n = len(grouping_cols)
    sets = []
    tier_label = dim_label = F.lit(None).cast("string")
    for t in tiers:
        for name, keys in dims.items():
            kept = [*extra, buckets[t], *keys]
            sets.append(kept)
            gid = sum(1 << (n - 1 - i) for i, c in enumerate(grouping_cols) if c not in kept)
            hit = F.grouping_id() == F.lit(gid)
            tier_label = F.when(hit, F.lit(t)).otherwise(tier_label)
            dim_label = F.when(hit, F.lit(name)).otherwise(dim_label)

    prepped = with_text_stats(df).select(
        "*", *[bucket_col(t).alias(b) for t, b in buckets.items()]
    )
    out = prepped.groupingSets(sets, *[F.col(c) for c in grouping_cols]).agg(
        tier_label.alias("tier"), dim_label.alias("dim"), *_partial_aggs()
    )
    return out.select(
        *extra,
        F.coalesce(*buckets.values()).alias("bucket_start"),
        *all_keys,
        "tier",
        "dim",
        *AGG_COL_NAMES,
    )


def rollup_multidim(
    df: DataFrame,
    dims: dict[str, list[str]],
    tiers: tuple[str, ...] = ("1m", "1h", "1d"),
    extra_group_cols: list[str] | None = None,
) -> dict[str, DataFrame]:
    """:func:`rollup_grouping_sets` as ``{tier: frame}``, each frame the
    one aggregation filtered to its tier (without the ``tier`` column).

    Every view plans the whole aggregation: an action per view reruns
    it from raw.  Read several tiers in ONE action (a union of the views
    reuses the one shuffle), or take the one frame instead."""
    one = rollup_grouping_sets(df, dims, tiers, extra_group_cols)
    return {t: one.filter(F.col("tier") == t).drop("tier") for t in tiers}


def dim_slice(df: DataFrame, dims: dict[str, list[str]], name: str) -> DataFrame:
    """Project one dimension's series out of a multidim tier table."""
    drop = [k for keys in dims.values() for k in keys if k not in dims[name]]
    return df.filter(F.col("dim") == name).drop("dim", *dict.fromkeys(drop))


def histogram_quantile(
    hist: DataFrame,
    q: float,
    keys: list[str] | None = None,
    le_col: str = "le",
    n_col: str = "n",
) -> DataFrame:
    """Quantile from a fixed-bucket histogram — the engine's
    ``histogram_quantile(q, rate(..._bucket[i]))`` analogue
    (/root/reference/docker-compose/grafana/dashboards/mq-to-db.json:868:
    the reference's p90 worker-duration panel; SURVEY.md §2 C5).

    Input is :func:`fixed_bucket_histogram` output (per-window per-``le``
    counts).  Prometheus ``bucketQuantile`` semantics (promql/quantile.go,
    fuzz-tested against a line-faithful port): linear interpolation
    inside the bucket that contains rank ``q·total`` with the first
    bucket's lower edge taken as 0 — *unless* that first bucket's upper
    edge is ≤ 0, in which case the edge itself is returned — and the
    +inf bucket clamps to the highest finite edge.  All-Catalyst: one
    window cumsum + one hash agg over tier-sized data.
    """
    from pyspark.sql import Window as W

    keys = ["bucket_start", *(keys or [])]
    w = W.partitionBy(*keys).orderBy(le_col)
    w_all = W.partitionBy(*keys)
    le = F.col(le_col).cast("double")
    enriched = (
        hist.withColumn("_cum", F.sum(n_col).over(w))
        .withColumn("_lo", F.lag(le, 1).over(w))  # NULL marks the first bucket
        .withColumn("_tot", F.sum(n_col).over(w_all))
        .withColumn(
            "_max_finite",
            F.max(F.when(le != F.lit(float("inf")), le)).over(w_all),
        )
        .withColumn("_rank", F.lit(float(q)) * F.col("_tot"))
    )
    lo = F.coalesce(F.col("_lo"), F.lit(0.0))
    est = (
        F.when(le == F.lit(float("inf")), F.col("_max_finite"))
        # Prometheus: rank in the first bucket with a non-positive upper
        # edge → the edge itself (a 0 lower bound would be above it)
        .when(F.col("_lo").isNull() & (le <= 0), le)
        .otherwise(
            lo
            + (le - lo)
            * F.try_divide(F.col("_rank") - (F.col("_cum") - F.col(n_col)), F.col(n_col))
        )
    )
    picked = (
        enriched.filter((F.col("_cum") >= F.col("_rank")) & (F.col("_tot") > 0))
        .withColumn("_est", est)
        .groupBy(*keys)
        .agg(F.min_by("_est", le_col).alias(f"q{int(q * 100)}"))
    )
    return picked


def histogram_fraction(
    hist: DataFrame,
    bound: float,
    keys: list[str] | None = None,
    le_col: str = "le",
    n_col: str = "n",
    out_col: str = "fraction",
) -> DataFrame:
    """Fraction of observations ≤ ``bound`` from a fixed-bucket histogram
    — the inverse of :func:`histogram_quantile` (PromQL
    ``histogram_fraction``; the "what share of workers finished under 5 s"
    panel next to the reference's p90 latency panel,
    docker-compose/grafana/dashboards/mq-to-db.json:868).

    Input is :func:`fixed_bucket_histogram` output (per-window per-``le``
    counts).  Semantics mirror the quantile's interpolation convention:
    buckets with ``le ≤ bound`` count fully; the single bucket straddling
    ``bound`` contributes ``n · (bound - lo) / (le - lo)`` with the first
    bucket's lower edge taken as 0 (ratio clamped to [0, 1], so a
    negative ``bound`` reads 0); the +inf bucket never interpolates (its
    width is unbounded — observations above the highest finite edge count
    only when that edge ≤ ``bound``).  Windows with zero total emit no
    row (same as the quantile).

    Plan: ONE hash aggregation, no window — strictly narrower than the
    quantile's cumsum, because the fraction at a literal bound needs no
    running rank.  Conditional partial aggregation (sum/min of CASE) is
    map-side combined; tier-sized input in, one row per window out.
    """
    keys = ["bucket_start", *(keys or [])]
    b = F.lit(float(bound))
    le = F.col(le_col).cast("double")
    n = F.col(n_col)
    inf = F.lit(float("inf"))
    agg = (
        hist.groupBy(*keys)
        .agg(
            F.sum(n).alias("_tot"),
            F.sum(F.when(le <= b, n).otherwise(F.lit(0))).alias("_full"),
            # the straddling bucket: smallest finite edge above the bound
            F.min(
                F.when((le > b) & (le != inf), F.struct(le.alias("le"), n.alias("n")))
            ).alias("_part"),
            # its lower edge: largest edge at or below the bound
            F.max(F.when(le <= b, le)).alias("_lo"),
        )
        .filter(F.col("_tot") > 0)
    )
    lo = F.coalesce(F.col("_lo"), F.lit(0.0))
    ratio = F.greatest(
        F.lit(0.0),
        F.least(F.lit(1.0), (b - lo) / (F.col("_part.le") - lo)),
    )
    partial = F.coalesce(F.col("_part.n") * ratio, F.lit(0.0))
    return agg.select(
        *keys,
        F.try_divide(F.col("_full") + partial, F.col("_tot")).alias(out_col),
    )


def role_transitions(
    df: DataFrame,
    tier: str | None = "1d",
    key: str = "conv_id",
    role_col: str = "role",
) -> DataFrame:
    """Role-transition (bigram) counts — conversation-flow analytics:
    how often does role A hand off to role B within a conversation, per
    tier bucket (of the *second* turn's timestamp).  One window pass per
    conversation (lag over the stable (ts, turn_idx) order) + a hash agg;
    first turns (no predecessor) are excluded."""
    from pyspark.sql import Window as W

    w = W.partitionBy(key).orderBy("ts", "turn_idx")
    pairs = df.withColumn("prev_role", F.lag(role_col).over(w)).filter(
        F.col("prev_role").isNotNull()
    )
    group = [F.col("prev_role"), F.col(role_col).alias("next_role")]
    if tier is not None:
        group = [bucket_col(tier).alias("bucket_start"), *group]
    return pairs.groupBy(*group).agg(F.count(F.lit(1)).alias("n_transitions"))


def derived_stats(df: DataFrame) -> DataFrame:
    """Read-time derived columns: avg, population stddev, rate/sec.

    ``turns_per_sec`` is the windowed-rate analogue of the reference
    dashboard's ``sum(rate(..._messages_total[1m]))``
    (mq-to-db.json:239) — count over the tier window divided by window
    seconds.
    """
    # try_divide: gap-filled buckets have n_turns = 0 → stats are NULL
    # (not an ANSI divide-by-zero error).
    n = F.col("n_turns").cast("double")
    avg = F.try_divide(F.col("text_len_sum"), n)
    var = F.try_divide(F.col("text_len_sumsq"), n) - avg * avg
    # greatest() skips NULLs, so guard: empty buckets keep std NULL.
    std = F.when(n > 0, F.sqrt(F.greatest(var, F.lit(0.0))))
    return df.withColumn("text_len_avg", avg).withColumn("text_len_std", std)


def with_rate(df: DataFrame, tier: str) -> DataFrame:
    return df.withColumn(
        "turns_per_sec", F.col("n_turns") / F.lit(float(TIER_SECONDS[tier]))
    )


def gauge_last(
    df: DataFrame,
    tier: str,
    value_col: str,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Gauge/last-value semantics (C6): last observed value per series per
    bucket — ``max_by(value, ts)``, the analogue of a Prometheus gauge
    sample at scrape time (metrics.go:86-114).  ``order_cols`` breaks ts
    ties deterministically (defaults to turn_idx when present)."""
    keys = list(keys or [])
    if order_cols is None:
        order_cols = [ts_col] + (["turn_idx"] if "turn_idx" in df.columns else [])
    return (
        df.withColumn("bucket_start", bucket_col(tier, ts_col))
        .groupBy("bucket_start", *keys)
        .agg(
            F.max_by(value_col, F.struct(*[F.col(c) for c in order_cols])).alias(
                f"last_{value_col}"
            )
        )
    )


def fixed_bucket_histogram(
    df: DataFrame,
    value_col: str,
    bucket_edges: list[float],
    tier: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Fixed-bucket histogram (C4): the analogue of the reference's
    latency HistogramVec with explicit buckets
    (metrics.go:124-133, buckets {1..10,15}s) — ``width_bucket``-style
    assignment then a windowed count per bucket.  Cumulative counts (the
    Prometheus ``_bucket`` le-semantics) derive by a running sum over
    bucket index at read time."""
    keys = list(keys or [])
    edges = sorted(bucket_edges)
    # smallest edge >= value, else +inf bucket
    expr = F.lit(float("inf"))
    for e in reversed(edges):
        expr = F.when(F.col(value_col) <= F.lit(float(e)), F.lit(float(e))).otherwise(expr)
    return (
        df.withColumn("bucket_start", bucket_col(tier))
        .withColumn("le", expr)
        .groupBy("bucket_start", *keys, "le")
        .count()
        .withColumnRenamed("count", "n")
    )


def cascade_histogram(
    hist: DataFrame, to_tier: str, keys: list[str] | None = None
) -> DataFrame:
    """Merge fine-tier fixed-bucket histograms into ``to_tier`` windows:
    per-``le`` count addition — exact, order-independent (bucket edges
    are part of the row key, so histograms cascade like every other
    re-aggregable tier column).  Input is the output shape of
    :func:`fixed_bucket_histogram`."""
    keys = list(keys or [])
    return (
        hist.withColumn("bucket_start", bucket_col(to_tier, "bucket_start"))
        .groupBy("bucket_start", *keys, "le")
        .agg(F.sum("n").alias("n"))
    )
