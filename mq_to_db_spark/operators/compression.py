"""Compressed conversation-chunk archive (SURVEY.md §2 C10).

Spark plumbing around the pure-numpy Gorilla-style codec
(functions/codec.py): one compressed chunk per ``(conv_id, chunk_start)``
where ``chunk_start = date_trunc(chunk_interval, first ts)``.  Encode is a
grouped-map pandas UDF (``applyInPandas`` — Arrow batches in, one chunk
row out); decode is ``mapInPandas`` (chunk rows in, turn rows out).
Together with the simhash bit-vote reducer and the minhash signature
mixer (operators/dedup.py, both batch-flattened ``reduceat`` reductions)
and the strict-parse checker (functions/payload.py, validation plane)
these are the engine's only pandas-UDF families (input_hint: "no per-row
Python") — everything inside them is vectorized numpy.

Scale design:
  * chunk grain bounds group size: a conversation's day of turns, not the
    conversation — a hot conversation spanning weeks becomes many
    bounded groups, so the grouped-map shuffle cannot produce a
    pathological partition (this is where the north_rule's skew clause
    bites: ``applyInPandas`` has no partial aggregation to save you);
  * blobs are self-describing (counts embedded) with a ``codec`` tag for
    forward evolution;
  * the archive preserves the *full turn payload* (ts, turn_idx, role,
    tool, text, value) so ``decode(encode(x)) == x`` — the per-turn
    text-equality invariant under (conv_id, turn_idx) ordering that the
    north_rule verifies, inheriting the reference's byte-exact golden
    serialization discipline
    (/root/reference/internal/messages/sql_test.go:110,147-159).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mq_to_db_spark.functions import codec
from mq_to_db_spark.operators.timegrid import trunc_unit

CODEC_NAME = "gorilla-byte-v1"

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("chunk_start", T.TimestampType()),
        T.StructField("codec", T.StringType()),
        T.StructField("n_points", T.IntegerType()),
        # chunk value sketch: min/max of the XOR-coded series, computed in
        # the encode pass — value predicates prune on metadata before any
        # blob is touched (NaN for all-null chunks, which no value
        # predicate can match anyway)
        T.StructField("val_min", T.DoubleType()),
        T.StructField("val_max", T.DoubleType()),
        T.StructField("ts_blob", T.BinaryType()),
        T.StructField("turn_blob", T.BinaryType()),
        T.StructField("val_blob", T.BinaryType()),
        T.StructField("text_blob", T.BinaryType()),
        T.StructField("role_blob", T.BinaryType()),
        T.StructField("tool_blob", T.BinaryType()),
        T.StructField("raw_bytes", T.LongType()),
        T.StructField("enc_bytes", T.LongType()),
    ]
)


def _encode_partition(batches):
    """mapInPandas worker over a partition sorted by (conv_id,
    _chunk_start, turn_idx): split each Arrow batch into contiguous groups
    with numpy boundary detection, carrying the trailing (possibly
    incomplete) group into the next batch.  This processes thousands of
    groups per Python call — per-group cost is the codec math, not
    applyInPandas bookkeeping (the optimization that matters when chunks
    are small)."""
    carry: pd.DataFrame | None = None

    def _emit(pdf: pd.DataFrame) -> pd.DataFrame:
        conv = pdf["conv_id"].to_numpy(dtype=object)
        chunk = pdf["_chunk_start"].to_numpy()
        ts = pdf["ts"].to_numpy().astype("datetime64[us]").view("int64")
        turn = pdf["turn_idx"].to_numpy().astype("int64")
        val = pdf["_value"].to_numpy(dtype="float64")
        texts = [None if t is None or t is pd.NA else str(t) for t in pdf["text"]]
        roles = [None if r is None or r is pd.NA else str(r) for r in pdf["role"]]
        tools = [None if x is None or x is pd.NA else str(x) for x in pdf["tool"]]
        bound = np.flatnonzero((conv[1:] != conv[:-1]) | (chunk[1:] != chunk[:-1])) + 1
        starts = np.r_[0, bound]
        ends = np.r_[bound, len(pdf)]

        # batch codecs: one vectorized pass over the whole Arrow batch,
        # per-group blobs sliced out — per-group cost drops from ~6 numpy
        # setups to a few byte-slices, which is what matters when chunks
        # are small (sparse series); blob bytes identical to the
        # per-group encoders (tests assert equality).  Output assembly is
        # columnar too: per-group dict rows + .iloc were the hot spot at
        # ~40k chunks/batch (sparse per-user event streams).
        ts_blobs = codec.encode_ts_grouped(ts, starts, ends)
        turn_blobs = codec.encode_i64_grouped(turn, starts, ends)
        val_blobs = codec.encode_xor_grouped(val, starts, ends)
        text_blobs, text_raw = codec.encode_strings_grouped(texts, starts, ends)
        role_blobs = codec.encode_dict_grouped(roles, starts, ends)
        tool_blobs = codec.encode_dict_grouped(tools, starts, ends)
        role_cum = np.r_[
            0,
            np.cumsum(
                np.fromiter(
                    (0 if r is None else len(r) for r in roles),
                    dtype=np.int64,
                    count=len(roles),
                )
            ),
        ]
        tool_cum = np.r_[
            0,
            np.cumsum(
                np.fromiter(
                    (0 if x is None else len(x) for x in tools),
                    dtype=np.int64,
                    count=len(tools),
                )
            ),
        ]
        k = len(starts)
        n_points = ends - starts
        # fmin/fmax ignore NaN (null values) — all-NaN groups stay NaN
        val_min = np.fmin.reduceat(val, starts)
        val_max = np.fmax.reduceat(val, starts)
        raw = (
            n_points * 24
            + text_raw
            + (role_cum[ends] - role_cum[starts])
            + (tool_cum[ends] - tool_cum[starts])
        )
        enc = np.fromiter(
            (
                len(a) + len(b) + len(c) + len(d) + len(e_) + len(f)
                for a, b, c, d, e_, f in zip(
                    ts_blobs, turn_blobs, val_blobs, text_blobs, role_blobs, tool_blobs
                )
            ),
            dtype=np.int64,
            count=k,
        )
        return pd.DataFrame(
            {
                "conv_id": pd.Series(conv[starts], dtype=object),
                "chunk_start": pd.Series(chunk[starts]),
                "codec": pd.Series(np.full(k, CODEC_NAME, dtype=object)),
                "n_points": n_points.astype("int32"),
                "val_min": val_min,
                "val_max": val_max,
                "ts_blob": pd.Series(ts_blobs, dtype=object),
                "turn_blob": pd.Series(turn_blobs, dtype=object),
                "val_blob": pd.Series(val_blobs, dtype=object),
                "text_blob": pd.Series(text_blobs, dtype=object),
                "role_blob": pd.Series(role_blobs, dtype=object),
                "tool_blob": pd.Series(tool_blobs, dtype=object),
                "raw_bytes": raw.astype("int64"),
                "enc_bytes": enc,
            }
        )

    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        if not len(pdf):
            continue
        # hold back the last group — it may continue in the next batch
        conv = pdf["conv_id"].to_numpy(dtype=object)
        chunk = pdf["_chunk_start"].to_numpy()
        last_start = 0
        bounds = np.flatnonzero((conv[1:] != conv[:-1]) | (chunk[1:] != chunk[:-1])) + 1
        if len(bounds):
            last_start = int(bounds[-1])
        carry = pdf.iloc[last_start:]
        head = pdf.iloc[:last_start]
        if len(head):
            yield _emit(head)
    if carry is not None and len(carry):
        yield _emit(carry)


def encode_chunks(
    df: DataFrame,
    value_col: str = "text_len",
    chunk_interval: str = "1 day",
    partitions: int | None = None,
) -> DataFrame:
    """Compress turns into per-(conv_id, chunk) blobs.

    ``value_col``: the float series for the XOR codec (defaults to
    text_len; any numeric column works).  Input needs the transcript
    schema; ``text_len`` is derived if absent.

    Plan shape: one shuffle (repartition on the chunk key) + in-partition
    sort + a single mapInPandas pass.  Groups are processed thousands per
    Arrow batch — same result as a groupBy().applyInPandas but without
    per-group scheduling overhead, which dominates when chunks are small.

    ``partitions`` sizes the exchange feeding the Python codec stage —
    the dial, like packing.py's ``n_shards``.  It is EXPLICIT (default
    1× default parallelism — ONE wave of coarse tasks) because AQE
    sizes coalescing by shuffle BYTES, and this stage's cost is CPU per
    byte of *decompressed* text, not shuffle volume: on a 32-core box a
    ~5 MB text shuffle coalesces to ~3 partitions and the codec runs
    3-wide (measured 2× on the sf0.1 roundtrip).  Per-task Arrow +
    Python-worker dispatch is the cost floor once the codec itself is
    batch-vectorized, so MORE waves actively hurt: the round-5 A/B on
    the sf0.1 compact_late pipeline measured 2×-parallelism = 4.7 s vs
    1× = 2.9 s vs ½× = 2.3 s — the earlier 2× default paid a full extra
    wave of dispatch on every codec stage for a rebalance benefit that
    never materialized (chunk-grain bounding already caps group skew).
    At cluster scale pass input_bytes/64MB.
    """
    from mq_to_db_spark.operators.rollup import with_text_stats

    if value_col not in df.columns:
        df = with_text_stats(df)
    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    prepped = df.withColumn(
        "_chunk_start", F.date_trunc(trunc_unit(chunk_interval), F.col("ts"))
    ).withColumn("_value", F.col(value_col).cast("double"))
    arranged = prepped.repartition(
        partitions, "conv_id", "_chunk_start"
    ).sortWithinPartitions("conv_id", "_chunk_start", "turn_idx")
    return arranged.mapInPandas(_encode_partition, schema=CHUNK_SCHEMA)


_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _decode_batches(batches):
    for pdf in batches:
        if not len(pdf):
            continue
        # every column decodes in ONE vectorized pass over all chunks of
        # the batch (codec.decode_*_grouped) — per-chunk Python work is
        # just the inherent per-blob zlib calls
        ts, counts = codec.decode_ts_grouped([bytes(b) for b in pdf["ts_blob"]])
        turn, _ = codec.decode_i64_grouped([bytes(b) for b in pdf["turn_blob"]])
        val, _ = codec.decode_xor_grouped([bytes(b) for b in pdf["val_blob"]])
        texts, _ = codec.decode_strings_grouped([bytes(b) for b in pdf["text_blob"]])
        roles, _ = codec.decode_dict_grouped([bytes(b) for b in pdf["role_blob"]])
        tools, _ = codec.decode_dict_grouped([bytes(b) for b in pdf["tool_blob"]])
        yield pd.DataFrame(
            {
                "conv_id": np.repeat(pdf["conv_id"].to_numpy(dtype=object), counts),
                "turn_idx": turn.astype("int32"),
                "role": pd.Series(roles, dtype=object),
                "text": pd.Series(texts, dtype=object),
                "tool": pd.Series(tools, dtype=object),
                "ts": ts.view("datetime64[us]"),
                "value": val,
            }
        )


def decode_chunks(chunks: DataFrame) -> DataFrame:
    """Inverse of encode_chunks: chunk rows → turn rows (+ the float
    ``value`` column the XOR codec carried).  Per-*chunk* Python iteration
    only (thousands of turns per step), all per-turn work vectorized."""
    return chunks.mapInPandas(_decode_batches, schema=_DECODE_SCHEMA)


def compression_report(chunks: DataFrame) -> DataFrame:
    """Codec metrics per conversation — raw/encoded bytes and ratio."""
    return chunks.groupBy("conv_id").agg(
        F.sum("n_points").alias("n_points"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.try_divide(F.sum("raw_bytes"), F.sum("enc_bytes")).alias("ratio"),
    )


def decode_chunks_range(
    chunks: DataFrame,
    lo,
    hi,
    chunk_interval: str = "1 day",
    conv_ids: list[str] | None = None,
) -> DataFrame:
    """Time-range (and optionally series-) pruned archive read: decode
    ONLY the chunks that can overlap ``[lo, hi)``, then trim exactly.

    The Gorilla/TSDB chunk-index idiom: ``chunk_start`` is the chunk's
    alignment bucket (``date_trunc(chunk_interval, ts)`` at encode time),
    so a chunk can contain timestamps in ``[chunk_start, chunk_start +
    interval)`` and nothing else — a plain predicate on ``chunk_start``
    is therefore an EXACT prune, evaluated on chunk metadata before any
    blob is touched.  Against a chunk table partitioned or sorted by
    ``chunk_start`` the predicate pushes into the parquet scan
    (min/max row-group skipping), so a 1-day query over a year-long
    archive decompresses ~1/365 of the blobs.

    ``lo`` / ``hi``: timestamp-like (string or datetime); ``conv_ids``
    optionally restricts the series (pure pushed filter too).  Result is
    identical to ``decode_chunks(chunks).where(lo <= ts < hi)`` — the
    equivalence a test asserts."""
    unit = trunc_unit(chunk_interval)
    lo_c, hi_c = F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp")
    pruned = chunks.where(
        (F.col("chunk_start") >= F.date_trunc(unit, lo_c))
        & (F.col("chunk_start") < hi_c)
    )
    if conv_ids is not None:
        pruned = pruned.where(F.col("conv_id").isin(list(conv_ids)))
    out = decode_chunks(pruned)
    return out.where((F.col("ts") >= lo_c) & (F.col("ts") < hi_c))


def merge_late_chunks(
    chunks: DataFrame,
    late_turns: DataFrame,
    value_col: str = "value",
    chunk_interval: str = "1 day",
    partitions: int | None = None,
) -> DataFrame:
    """Late-data compaction: fold a batch of late-arriving turns into an
    existing chunk archive, re-encoding ONLY the touched chunks.

    The TSDB compactor idiom (and the batch answer to the reference's
    requeue-on-late path, internal/consumer/rmq/rmq.go:219-247): a
    Gorilla blob is immutable, so late points for a sealed chunk mean
    decode → merge → re-encode of exactly that ``(conv_id,
    chunk_start)`` — never a rewrite of the archive.

    Plan shape: the touched-key set is ``late.distinct()`` over the two
    key columns (tiny — one row per touched chunk, not per late turn);
    the archive splits by one LEFT SEMI / LEFT ANTI join pair against it
    (both prunable scans; at 10^12 turns the anti side — virtually the
    whole archive — is pass-through, never decoded); only the semi side
    is decoded, unioned with the late turns, and re-encoded through the
    same single-shuffle `encode_chunks` path.  Late turns for chunks
    that do not exist yet simply become new chunks (the decode side of
    their key is empty).  Result schema == `CHUNK_SCHEMA`, so the output
    unions/overwrites back into the archive table.
    """
    from mq_to_db_spark.operators.rollup import with_text_stats

    unit = trunc_unit(chunk_interval)
    if value_col not in late_turns.columns:
        late_turns = with_text_stats(late_turns)
    late = late_turns.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        "ts",
        F.col(value_col).cast("double").alias("value"),
    )
    touched_keys = late.select(
        "conv_id", F.date_trunc(unit, "ts").alias("chunk_start")
    ).distinct()
    touched = chunks.join(touched_keys, ["conv_id", "chunk_start"], "left_semi")
    untouched = chunks.join(touched_keys, ["conv_id", "chunk_start"], "left_anti")
    merged_turns = decode_chunks(touched).unionByName(late)
    reencoded = encode_chunks(
        merged_turns,
        value_col="value",
        chunk_interval=chunk_interval,
        partitions=partitions,
    )
    return untouched.unionByName(reencoded)


def decode_chunks_value_range(
    chunks: DataFrame,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Value-predicate-pruned archive read: decode ONLY chunks whose
    [val_min, val_max] sketch can overlap [lo, hi], then trim exactly.

    The complement of :func:`decode_chunks_range`: per-chunk min/max are
    computed during encode (one reduceat in the same numpy pass), so a
    value predicate — "where did the series exceed X?" — prunes on chunk
    METADATA, pushed into the parquet scan, before any blob decompresses.
    On a flat-mostly series a spike hunt decodes only spiky chunks.
    Result is identical to ``decode_chunks(chunks).where(lo <= value <=
    hi)`` — the equivalence a test asserts (NaN sketches — all-null
    chunks — prune out, matching the filter that would drop their rows).
    """
    pruned = chunks
    if lo is not None:
        pruned = pruned.where(F.col("val_max") >= F.lit(float(lo)))
    if hi is not None:
        pruned = pruned.where(F.col("val_min") <= F.lit(float(hi)))
    out = decode_chunks(pruned)
    if lo is not None:
        out = out.where(F.col("value") >= F.lit(float(lo)))
    if hi is not None:
        out = out.where(F.col("value") <= F.lit(float(hi)))
    return out
