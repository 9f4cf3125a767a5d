"""Z-order (Morton) clustering keys — multi-dimensional data layout.

At 10^12 turns the dominant cost of every query in this engine is the
scan, and the scan's cost is decided by LAYOUT: a table range-sorted
by ``ts`` alone answers time slices cheaply but sprays any
per-conversation read across every file; sorted by ``conv_id`` alone,
the reverse.  Interleaving the bits of both dimensions into one Morton
key (the Z-order curve — Delta ``OPTIMIZE ZORDER BY``, Iceberg sort
orders) gives files that are simultaneously tight in BOTH dimensions,
so min/max file statistics prune for either predicate.  The reference
delegates layout entirely to PostgreSQL heap order
(internal/storage/postgresql.go); a Spark-native engine must manage it
itself — this is the write-path companion of sources/tableio.py's
partitioned sinks.

Exactness discipline: every step is integer arithmetic.  Dimension
normalization maps each column onto ``[0, 2^bits)`` — timestamps by
exact BIGINT µs min/max range scaling (``(x - min) * (2^bits - 1) //
(max - min)``, products bounded: µs-range × 65535 < 2^63 for any
realistic corpus), strings by the md5-coin's low ``bits`` bits (the
engine-wide content-addressed hash convention).  The interleave is a
fixed chain of shift/mask/or terms unrolled at plan-build time — pure
codegen, ZERO Python, and bit-for-bit replayable in SQL.

``cluster_by_zorder`` then range-partitions on the key: each output
file covers a compact Z-curve segment = a small rectangle in
(conv, time) space — the property file-skipping needs.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mq_to_db_spark.operators.timegrid import epoch_us


def _md5_low_bits(c: Column, bits: int) -> Column:
    # engine-wide md5 coin (the first 15 hex digits of md5, as in
    # freq.py's sketch hash): keep the low `bits` of that
    h = F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")
    return h.bitwiseAND(F.lit((1 << bits) - 1))


def interleave_bits(cols: list[Column], bits: int = 16) -> Column:
    """Morton-interleave ``len(cols)`` normalized uints of ``bits``
    bits each into one BIGINT (column 0 in the lowest lane).  The
    shift/or chain is unrolled at plan-build time: ``bits ×
    len(cols)`` static terms, whole-stage-codegen'd."""
    n = len(cols)
    if n * bits > 62:
        raise ValueError("interleaved width must fit a signed BIGINT")
    terms = []
    for i, c in enumerate(cols):
        for b in range(bits):
            bit = F.shiftright(c, b).bitwiseAND(F.lit(1).cast("long"))
            terms.append(
                # each term is this bit moved to its interleaved lane
                bit * F.lit(1 << (b * n + i)).cast("long")
            )
    return functools.reduce(operator.add, terms)


def zorder_keys(
    df: DataFrame,
    hash_cols: list[str],
    ts_col: str = "ts",
    bits: int = 16,
) -> DataFrame:
    """``df`` + ``zkey`` (Morton key over md5(hash_cols...) lanes and
    the range-scaled ``ts_col`` lane, ts in the highest lane so the
    curve's coarse order is still time-ish)."""
    us = epoch_us(F.col(ts_col))
    ext = df.agg(F.min(us).alias("_lo"), F.max(us).alias("_hi"))
    d = df.crossJoin(F.broadcast(ext))
    # exact BIGINT scaling onto [0, 2^bits): products bounded (span_us
    # times 65535 < 2^63 for any corpus younger than ~4400 years), and
    # the quotient via integral `div` — a double floor() misranks the
    # exact-multiple boundary (x = max gives num = span * 65535, whose
    # double quotient can round below the integer).
    d = d.withColumn(
        "_num", (us - F.col("_lo")) * F.lit((1 << bits) - 1).cast("long")
    ).withColumn("_span", F.col("_hi") - F.col("_lo"))
    t_lane = F.when(F.col("_span") == 0, F.lit(0).cast("long")).otherwise(
        F.expr("_num div _span")
    )
    lanes = [_md5_low_bits(F.col(c).cast("string"), bits) for c in hash_cols]
    lanes.append(t_lane)
    return d.withColumn("zkey", interleave_bits(lanes, bits)).drop(
        "_lo", "_hi", "_num", "_span"
    )


def cluster_by_zorder(
    df: DataFrame,
    hash_cols: list[str],
    ts_col: str = "ts",
    bits: int = 16,
    n_files: int | None = None,
) -> DataFrame:
    """Range-partition by the Morton key — each partition (→ file) is
    a compact Z-curve segment, i.e. a small (conv, time) rectangle,
    giving min/max pruning on BOTH dimensions at read time."""
    keyed = zorder_keys(df, hash_cols, ts_col, bits)
    n = n_files or keyed.sparkSession.sparkContext.defaultParallelism
    return keyed.repartitionByRange(n, "zkey")
