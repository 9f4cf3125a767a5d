"""Mergeable frequency sketches: Count-Min over tier windows.

Completes the engine's mergeable-sketch family (HLL for distinct counts,
rollup.py:102; DDSketch for quantiles, sketch.py): Count-Min (Cormode &
Muthukrishnan, J. Algorithms '05) answers "how many times did item x
occur in this window?" with an overestimate-only error bound of
``ε·N`` (ε = e/width) at confidence ``1 − e^-depth``, from a sketch of
fixed size ``depth × width`` — regardless of how many distinct items
passed through.  The merge is cell-wise count addition — associative,
commutative, deterministic — so CMS rows cascade across the 1m→1h→1d
retention tiers exactly like count/sum (the C8 mergeability invariant),
where exact per-item counts of high-cardinality keys (user ids, tools)
would shuffle unboundedly many rows.

Hashing: a 60-bit md5-derived integer hash, the first 15 hex digits of
``md5(seed || value)`` — reproducible verbatim in DuckDB (`('0x' || substring(md5(...), 1, 15))::BIGINT`), so
the contract oracle replays the FULL sketch construction, not an
accuracy proxy.

Scale design (mirrors sketch.py):
  * build = one ``explode`` of a depth-length literal array (no shuffle)
    + TWO hash aggregations — (keys, bucket, cell) counts, then
    (keys, bucket) map assembly — both map-side partial;
  * a sketch row is ≤ depth·width entries, bounded regardless of input;
  * lookup is a pure expression (``least`` of ``element_at`` probes) —
    usable inside any downstream select with zero extra shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mq_to_db_spark.operators.rollup import bucket_col, sorted_count_map

DEPTH = 4
WIDTH = 1024


def cms_cell(item: Column, d: int, width: int = WIDTH) -> Column:
    """Flattened cell id for depth ``d``: ``d·width + h_d(item) % width``
    with the DuckDB-replayable md5-derived 60-bit hash (nonnegative, so
    ``pmod`` ≡ ``%`` on both engines)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"cms{d}#"), item.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return (F.lit(d * width) + F.pmod(h, F.lit(width))).cast("int")


def cms_rollup(
    df: DataFrame,
    tier: str,
    item_col: str,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    depth: int = DEPTH,
    width: int = WIDTH,
) -> DataFrame:
    """One Count-Min sketch per ``(keys…, bucket_start)``:
    ``(…, n, cms: map<int,bigint>)`` where ``n`` is the number of non-null
    items observed (every item lands in exactly ``depth`` cells, so
    ``Σcells / depth`` is exact)."""
    keys = list(keys or [])
    item = F.col(item_col)
    cells = F.array(*[cms_cell(item, d, width) for d in range(depth)])
    per_cell = (
        df.filter(item.isNotNull())
        .select(
            *keys,
            bucket_col(tier, ts_col).alias("bucket_start"),
            F.explode(cells).alias("_cell"),
        )
        .groupBy(*keys, "bucket_start", "_cell")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    return per_cell.groupBy(*keys, "bucket_start").agg(
        (F.sum("_cnt") / F.lit(depth)).cast("long").alias("n"),
        sorted_count_map("_cell", "_cnt").alias("cms"),
    )


def cascade_cms(
    sketches: DataFrame, to_tier: str, keys: list[str] | None = None
) -> DataFrame:
    """Merge fine-tier CMS rows into ``to_tier`` windows — cell-wise count
    addition over already-tiny sketch rows (input: :func:`cms_rollup`
    output shape)."""
    keys = list(keys or [])
    coarse = bucket_col(to_tier, "bucket_start").alias("bucket_start")
    meta = sketches.groupBy(*keys, coarse).agg(F.sum("n").alias("n"))
    merged = (
        sketches.select(*keys, coarse, F.explode("cms").alias("_cell", "_cnt"))
        .groupBy(*keys, "bucket_start", "_cell")
        .agg(F.sum("_cnt").alias("_cnt"))
        .groupBy(*keys, "bucket_start")
        .agg(sorted_count_map("_cell", "_cnt").alias("cms"))
    )
    return meta.join(merged, [*keys, "bucket_start"], "inner")


def cms_lookup(
    cms: Column, item: Column, depth: int = DEPTH, width: int = WIDTH
) -> Column:
    """Point-frequency estimate: ``min_d cms[cell_d(item)]`` (0 when no
    cell was ever touched).  Overestimate-only: estimate ≥ true count,
    with P[estimate > true + (e/width)·N] < e^-depth."""
    probes = [
        F.coalesce(F.element_at(cms, cms_cell(item, d, width)), F.lit(0))
        for d in range(depth)
    ]
    return F.least(*probes).cast("long")
