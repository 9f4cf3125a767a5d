"""HyperLogLog distinct-count sketch (Flajolet et al. 2007), built
from scratch on the engine's deterministic md5 hash coin.

The mergeable-cardinality sibling of the KMV bottom-k sketch
(operators/sketch.py) — TimescaleDB exposes exactly this pair
(``hyperloglog()`` + ``rollup()``) for continuous aggregates; the
reference engine has no sketch plane at all (storage delegated to
PostgreSQL), so this is part of the 100 TB metrics surface the engine
adds.  KMV gives an unbiased estimator with k·8 bytes and exact
small-set behavior; HLL gives ~1.04/√m relative error in m·6 bits and
O(1) register-wise merge — the sketch you materialize per tier bucket
and fold up the 1m→1h→1d cascade.

Design for replayability (every stage is integer-exact, so a DuckDB
oracle replays the ENTIRE sketch — registers, estimate, corrections —
not a statistical approximation of it):

  * hash = ``hash_u60`` (sampling.py): 60-bit md5-derived uniform
    coin, the same replayable hash the KMV/sampling planes ride;
  * register index j = top ``p`` bits; rho = leading-zero count of the
    remaining ``60-p`` bits + 1, computed via BINARY STRING LENGTH
    (``conv(w, 10, 2)`` / ``to_base(w, 2)``) — never ``floor(log2)``,
    whose 1-ulp error at exact powers of two would corrupt a register;
  * sketch = sparse sorted map {j → max rho} (absent register = 0),
    ONE hash aggregation on (keys, bucket, j) with map-side combine —
    the shuffle carries (j, rho) pairs, never raw values;
  * merge across tiers/groups = explode + the SAME max aggregation
    (register-wise max is associative/commutative/idempotent, so a
    1h→1d merge equals the direct 1d build REGISTER-FOR-REGISTER — the
    invariant the tests assert, the property that makes the sketch a
    continuous aggregate);
  * estimate: denom = (m − |set|) + Σ 2^−rho_j folded in sorted-j
    order — every term is an exact dyadic rational, the fold order is
    pinned, so the raw-estimate double is BIT-identical cross-engine;
    small-range (linear-counting) correction ``m·ln(m/V)`` when
    E ≤ 2.5m and V > 0 — the one transcendental (~1-ulp cross-engine,
    the psi_1d class, see BENCH/FLOAT_SURFACE_AUDIT.md: emitted raw,
    never rounded).  The 2^60 space makes the large-range correction
    irrelevant below ~10^16 distinct — documented, not implemented.

Scale shape: register count m = 2^p bounds every sketch at m entries —
the (keys, bucket, j) aggregation's cardinality is TIER × m, uniform
by construction (j is a hash prefix), so there is no skew cliff and
the final per-bucket assembly groups ≤ m rows.  At 10^12 turns the
heavy aggregation is the first one, and it map-side-combines down to
≤ m rows per (key, bucket) per partition before the exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mq_to_db_spark.operators.rollup import bucket_col, sorted_count_map
from mq_to_db_spark.operators.sampling import hash_u60

__all__ = ["hll_sketch", "hll_merge", "hll_estimate"]

#: default precision: m = 512 registers, ~4.6% relative error, 512
#: map entries max per sketch
DEFAULT_P = 9

#: hash width of the sampling coin (sampling.py HASH_SPACE = 1 << 60)
HASH_BITS = 60

#: Flajolet et al.'s bias constant for m = 16 / 32 / 64 registers; the
#: asymptotic ``0.7213 / (1 + 1.079/m)`` holds from m = 128 (p >= 7)
_ALPHA_SMALL_M = {4: 0.673, 5: 0.697, 6: 0.709}


def _rho(w: Column, width: int) -> Column:
    """Leading-zero count of ``w`` as a ``width``-bit word, + 1 —
    via binary-string length (integer-exact; ``floor(log2)`` is NOT
    safe at exact powers of two).  ``w = 0`` → width + 1 (all zeros)."""
    return F.when(w == 0, F.lit(width + 1)).otherwise(
        F.lit(width + 1) - F.length(F.conv(w, 10, 2))
    )


def hll_sketch(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    tier: str = "1h",
    ts_col: str = "ts",
    p: int = DEFAULT_P,
    seed: int | str = 42,
) -> DataFrame:
    """Per ``(keys…, bucket_start)``: the sparse HLL register map
    ``hll: map<int, int>`` ({register j → max rho}, sorted by j,
    absent = 0).  NULL values excluded (match count_distinct)."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    wbits = HASH_BITS - p
    h = hash_u60(value_col, seed=seed)
    j = F.shiftright(h, wbits).cast("int")
    w = h % F.lit(1 << wbits).cast("long")
    regs = (
        df.where(F.col(value_col).isNotNull())
        .select(
            *keys,
            bucket_col(tier, ts_col).alias("bucket_start"),
            j.alias("_j"),
            _rho(w, wbits).alias("_rho"),
        )
        .groupBy(*keys, "bucket_start", "_j")
        .agg(F.max("_rho").alias("_mr"))
    )
    return regs.groupBy(*keys, "bucket_start").agg(sorted_count_map("_j", "_mr").alias("hll"))


def hll_merge(
    sketches: DataFrame,
    keys: list[str],
    bucket_expr: Column,
    hll_col: str = "hll",
) -> DataFrame:
    """Merge fine-tier sketches into coarser groups: register-wise max.
    Same shape as the build's second aggregation (explode fans out ≤ m
    rows per input sketch); associative + idempotent, so any merge tree
    — 1h→1d, replica dedup, cross-key union — yields the identical
    registers the direct build would (test-asserted)."""
    ex = sketches.select(
        *keys,
        bucket_expr.alias("bucket_start"),
        F.explode(hll_col).alias("_j", "_mr"),
    )
    return (
        ex.groupBy(*keys, "bucket_start", "_j")
        .agg(F.max("_mr").alias("_mr"))
        .groupBy(*keys, "bucket_start")
        .agg(sorted_count_map("_j", "_mr").alias("hll"))
    )


def hll_estimate(
    sketches: DataFrame,
    p: int = DEFAULT_P,
    keys: list[str] | None = None,
    hll_col: str = "hll",
) -> DataFrame:
    """Cardinality estimate per sketch row: ``(keys…, bucket_start,
    n_regs_set, n_zero_regs, estimate)``.

    ``estimate`` is the raw-double HLL estimator with the standard
    small-range linear-counting correction; the harmonic-sum fold runs
    in sorted register order over exact powers of two, so the raw
    estimate is bit-identical cross-engine and the only ~1-ulp surface
    is the correction's ``ln`` (emitted unrounded by design —
    BENCH/FLOAT_SURFACE_AUDIT.md rule).  A sketch holding a register
    index ≥ 2^p was built at a larger p: its ``n_zero_regs`` and
    ``estimate`` are NULL."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    keys = list(keys or [])
    m = 1 << p
    alpha = _ALPHA_SMALL_M.get(p) or 0.7213 / (1.0 + 1.079 / m)
    ent = F.array_sort(F.map_entries(hll_col))
    n_set = F.size(ent)
    # Σ 2^-rho over set registers, sorted-j fold; each term is the
    # exact dyadic 1 / (1 << rho) (integer shift + one exact division —
    # not pow(), whose exactness at power-of-two points is
    # implementation-defined)
    s = F.aggregate(
        ent,
        F.lit(0.0),
        lambda acc, e: acc
        + F.lit(1.0)
        / F.call_function(
            "shiftleft", F.lit(1).cast("long"), e["value"]
        ).cast("double"),
    )
    in_range = ~F.exists(F.map_keys(hll_col), lambda j: j >= m)
    n_zero = F.when(in_range, F.lit(m) - n_set).cast("long")
    denom = n_zero.cast("double") + s
    raw = F.lit(alpha * m) * F.lit(float(m)) / denom
    corrected = F.when(
        (raw <= F.lit(2.5 * m)) & (n_zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / n_zero.cast("double")),
    ).otherwise(raw)
    return sketches.select(
        *keys,
        "bucket_start",
        n_set.cast("long").alias("n_regs_set"),
        n_zero.alias("n_zero_regs"),
        corrected.alias("estimate"),
    )
