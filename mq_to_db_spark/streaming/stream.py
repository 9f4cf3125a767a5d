"""Structured Streaming ingest: every stream runs the rollup pipeline.

The reference is a streaming consumer (internal/consumer/rmq/rmq.go:170-217,
an unbounded AMQP delivery channel) that acks a delivery only after the
store succeeds and dead-letters what it rejects
(internal/repository/messages.go:131-148).  Here that loop has one form:
each micro-batch of delivered turns runs the complete
:class:`~mq_to_db_spark.plans.pipeline.RollupPipeline` batch in
``mode="append"`` — validate, dead letter, every tier, lineage and
``job_metrics`` (the ack) — from a ``foreachBatch`` sink.  Two sources
feed it:

  * file-source ``readStream`` over a transcript directory = the queue
    as a spool directory (new files = new deliveries;
    ``maxFilesPerTrigger`` = the prefetch window, rmq.go:120-124);
    ``trigger(availableNow=True)`` drains it and stops, which is also
    how the tests run deterministically;
  * the ``rate-micro-batch`` source = a live subscription with no files.

Late turns are never dropped: a turn for a bucket an earlier micro-batch
committed lands as another appended partial that ``read_rollup`` merges.
The streaming checkpoint records which deliveries arrived, the
per-batch ack which work was committed: effectively-once end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mq_to_db_spark.fixtures.generator import TRANSCRIPT_SCHEMA
from mq_to_db_spark.operators.rollup import with_text_stats


def read_transcript_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of transcript turns (schema fixed, never
    inferred — the reference's declared-struct discipline)."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _start_pipeline(
    stream: DataFrame,
    checkpoint_path: str,
    pipeline,
    prefix: str,
    available_now: bool,
    finalize_every_n_batches: int | None = None,
    max_batches: int | None = None,
    to_driver: bool = False,
):
    """Start ``stream`` into ``pipeline``, the writer both pipeline
    streams share: micro-batch ``k`` runs ``pipeline.run(mode="append")``
    as batch ``f"{prefix}-{k:06d}"`` — Spark's ``batch_id`` is stable
    across retries, so a recovery replay carries the same id and is a
    no-op once acked — then, every ``finalize_every_n_batches``-th
    micro-batch, :meth:`finalize`.  Micro-batches with id ≥
    ``max_batches`` are delivered but not processed.  ``to_driver`` first
    brings the batch's rows to the driver as Arrow (one job): a source
    whose scan reports no size (the rate source) then reads as a
    ``LocalRelation`` of known size, so its commits stage through Arrow
    like a file source's.  ``available_now`` drains what is there and
    stops; otherwise micro-batches run back to back until stopped."""

    def _batch(df, batch_id):
        k = int(batch_id)
        if max_batches is not None and k >= max_batches:
            return
        if to_driver:
            df = df.sparkSession.createDataFrame(df.toArrow(), schema=df.schema)
        pipeline.run(df.sparkSession, df, batch_id=f"{prefix}-{k:06d}", mode="append")
        if finalize_every_n_batches and (k + 1) % finalize_every_n_batches == 0:
            pipeline.finalize(df.sparkSession)

    trigger = {"availableNow": True} if available_now else {"processingTime": "0 seconds"}
    return (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(**trigger)
        .start()
    )


def run_streaming_pipeline(
    spark: SparkSession,
    input_path: str,
    checkpoint_path: str,
    pipeline,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    finalize_every_n_batches: int | None = None,
):
    """The reference's full ingest loop over a spool directory: each
    micro-batch of delivered turns runs the complete RollupPipeline
    batch — validate → dead letter → every tier from one grouping-sets
    aggregation → lineage/metrics (the ack) — in ``mode="append"``
    (per-batch partials, one ack per batch), so

      * a micro-batch replayed on recovery is a no-op (its ``job_metrics``
        commit already holds its batch id; Spark's foreachBatch batch_id
        is stable across retries),
      * a unit whose turns span micro-batches, or a late turn for a
        bucket an earlier micro-batch committed, accumulates appended
        partials that the read-side merge (``read_rollup``) finalizes
        exactly — no late-data loss.

    ``finalize_every_n_batches=N`` bounds append-mode read amplification
    while the stream flows: after every Nth micro-batch the pipeline's
    :meth:`finalize` collapses all accumulated per-batch partials to one
    row per (bucket, series) in one atomic ``overwrite_where``
    snapshot of the rollup table.  Purely an optimization of the read path —
    ``read_rollup``'s merge is exact with or without it — so a crash
    between batch-commit and finalize changes nothing (the next Nth
    batch finalizes the backlog), and a replayed batch that skips all
    its units still re-finalizes idempotently.  The cadence trades
    rewrite cost (tier-sized, never raw) against scan-only reads between
    appends.
    """
    return _start_pipeline(
        read_transcript_stream(spark, input_path, max_files_per_trigger),
        checkpoint_path, pipeline, "stream", available_now, finalize_every_n_batches,
    )


# -- socket-backed (live-broker) source variant -------------------------------
#
# The file source above models the queue as a spool directory; the
# reference's actual consumer is a LIVE unbounded subscription
# (/root/reference/internal/consumer/rmq/rmq.go:170-217 — deliveries
# arrive continuously on a channel, not in files).  Spark's
# ``rate-micro-batch`` source is the socket-shaped stand-in this sandbox
# can run: rows arrive per trigger from a generator, there is no
# filesystem handshake, and offsets exist only in the streaming
# checkpoint — exactly a broker subscription's shape.  Its (timestamp,
# value) rows are mapped to transcript turns with pure column
# expressions (codegen, no UDF), and — the property the ack story needs
# — the value sequence is DETERMINISTIC given the options, so a
# micro-batch replayed after a crash redelivers byte-identical turns,
# mirroring broker redelivery of unacked deliveries (rmq.go requeue).

_RATE_VOCAB = (
    "spark rollup tier shuffle naïve café 日本語 データ straße 🚀 Ω λ".split()
)


def turns_from_values(
    df: DataFrame,
    turns_per_conv: int = 25,
    start_ts: str = "2025-01-01 00:00:00",
) -> DataFrame:
    """Map a monotonic BIGINT ``value`` column to transcript turns with
    pure codegen'd column expressions (no UDF) — shared by the streaming
    rate source and its batch replay oracle (``spark.range`` produces
    the identical ``value`` domain, so tests can reconstruct exactly
    what any batch range delivered).

    ``value`` plays the reference's MessageID (consumer.go:83):
    ``conv_id = value // turns_per_conv`` and ``turn_idx = value %
    turns_per_conv`` form the same dense unique per-conversation key the
    file fixtures carry; role mix follows the generator's 40/40/5/15
    split via a deterministic hash; ``ts`` advances 1 s per turn from
    ``start_ts``."""
    v = F.col("value")
    h = F.abs(F.xxhash64(v, F.lit("role"))) % 100
    role = (
        F.when(h < 40, "user")
        .when(h < 80, "assistant")
        .when(h < 85, "system")
        .otherwise("tool")
    )
    tools = F.array(*[F.lit(t) for t in ("bash", "read", "write", "search", "edit", "fetch")])
    vocab = F.array(*[F.lit(w) for w in _RATE_VOCAB])
    nw = F.lit(len(_RATE_VOCAB))
    word = lambda salt: F.element_at(  # noqa: E731
        vocab, (F.abs(F.xxhash64(v, F.lit(salt))) % nw + 1).cast("int")
    )
    return df.select(
        F.concat(F.lit("conv-"), F.floor(v / turns_per_conv).cast("long")).alias("conv_id"),
        (v % turns_per_conv).cast("int").alias("turn_idx"),
        role.alias("role"),
        F.concat_ws(" ", word("w1"), word("w2"), word("w3")).alias("text"),
        F.when(
            role == "tool",
            F.element_at(tools, (F.abs(F.xxhash64(v, F.lit("tool"))) % 6 + 1).cast("int")),
        ).alias("tool"),
        (F.to_timestamp(F.lit(start_ts)) + F.make_dt_interval(secs=v.cast("double"))).alias("ts"),
    )


def read_rate_turns(
    spark: SparkSession,
    rows_per_batch: int = 1000,
    num_partitions: int | None = None,
    turns_per_conv: int = 25,
    start_ts: str = "2025-01-01 00:00:00",
) -> DataFrame:
    """Unbounded transcript-turn stream from the ``rate-micro-batch``
    source — the live-broker analogue of :func:`read_transcript_stream`
    (column semantics: :func:`turns_from_values`).  Batch ``k`` delivers
    values ``[k*rows_per_batch, (k+1)*rows_per_batch)``, so redelivery
    after a crash is byte-identical — the broker-requeue property the
    ack story relies on."""
    reader = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("startTimestamp", "0")
    )
    if num_partitions:
        reader = reader.option("numPartitions", num_partitions)
    return turns_from_values(reader.load(), turns_per_conv, start_ts)


def run_rate_pipeline(
    spark: SparkSession,
    checkpoint_path: str,
    pipeline,
    rows_per_batch: int = 1000,
    num_partitions: int | None = None,
    finalize_every_n_batches: int | None = None,
    max_batches: int | None = None,
):
    """:func:`run_streaming_pipeline` over the live rate source: every
    micro-batch of delivered turns runs the COMPLETE RollupPipeline in
    ``mode="append"`` with one ack per batch — the same effectively-once
    contract (source checkpoint × per-batch acks), now with no files
    anywhere on the ingest path.  The stream is unbounded (a
    subscription, not a drain): callers stop it explicitly or via
    :func:`await_batches`.

    ``max_batches`` (test/drain harness): micro-batches with id ≥ the
    bound are delivered but NOT processed — so however racy the eventual
    ``stop()`` is (micro-batches keep firing between a caller's progress
    poll and the stop taking effect, and a stop can kill a batch
    mid-commit), nothing past the bound can reach the warehouse and the
    committed prefix stays exactly reconstructable.  A micro-batch is
    ``rows_per_batch`` rows, so it enters the pipeline from the driver."""
    return _start_pipeline(
        read_rate_turns(spark, rows_per_batch, num_partitions),
        checkpoint_path, pipeline, "rate", False, finalize_every_n_batches,
        max_batches, to_driver=True,
    )


def await_batches(query, n_batches: int, timeout_sec: float = 120.0) -> int:
    """Block until ``query`` has COMMITTED ≥ ``n_batches`` micro-batches,
    then stop it; returns the committed batch count.  (A live
    subscription never terminates on its own — this is the test/drain
    harness for :func:`run_rate_pipeline`.)"""
    import time as _time

    deadline = _time.monotonic() + timeout_sec
    done = 0
    while _time.monotonic() < deadline:
        lp = query.lastProgress
        if lp is not None and lp.get("batchId") is not None:
            # batchId in lastProgress is the last COMPLETED batch
            done = int(lp["batchId"]) + 1
            if done >= n_batches:
                break
        _time.sleep(0.2)
    query.stop()
    query.awaitTermination(30)
    return done


def streaming_sliding_rollup(
    stream: DataFrame,
    range_dur: str = "1 hour",
    slide: str = "10 minutes",
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding-window streaming rollup — the Structured Streaming twin of
    the batch ``over_time_grid`` (operators/resample.py): every ``slide``
    instant t re-aggregates the turns in ``(t − range_dur, t]``, so a live
    dashboard reads ``avg_over_time``-style overlapping windows straight
    off the sink.  ``F.window(ts, range, slide)`` keeps one state row per
    open window per key (range/slide concurrent windows — the same
    fan-out dial as the batch explode) and the watermark bounds state:
    a window emits once its END passes the watermark, late turns beyond
    it are dropped.

    Spark windows are ``[start, end)``; windowing (and watermarking)
    ``ts − 1 µs`` makes them PromQL's left-open ``(start, end]`` on
    ``ts``, the batch operator's edge, so a turn exactly on an edge falls
    in the window that ends at it.  ``grid_ts`` is the window END = the
    evaluation instant t, the batch operator's output key.
    """
    keys = list(keys or [])
    prepped = with_text_stats(stream).withColumn(
        "_t", F.col("ts") - F.expr("INTERVAL 1 MICROSECOND")
    ).withWatermark("_t", watermark)
    win = F.window("_t", range_dur, slide)
    return (
        prepped.groupBy(win.alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum("text_len").alias("sum_v"),
            F.min("text_len").alias("min_v"),
            F.max("text_len").alias("max_v"),
        )
        .withColumn("grid_ts", F.col("w.end"))
        .drop("w")
    )


# -- stream-stream correlation (watermark-bounded join state) ------------------


def streaming_ack_join(
    turns: DataFrame,
    acks: DataFrame,
    max_ack_delay: str = "30 seconds",
    turns_watermark: str = "1 minute",
    acks_watermark: str = "2 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: correlate each delivered turn
    with its ack event — the reference's delivery↔ack lifecycle
    (rmq.go delivery channel vs messages.go:131 ``Ack``) as a
    Structured Streaming join instead of a broker callback.

    ``acks`` must carry ``(conv_id, turn_idx, ack_ts)``.  The join
    condition includes the TIME-RANGE bound ``ts ≤ ack_ts ≤ ts +
    max_ack_delay`` — the clause that lets Spark size the join state:
    with both sides watermarked, buffered rows are evicted as soon as
    no future match can satisfy the range, so state is
    O(arrival rate × max_ack_delay), never unbounded (the
    Structured Streaming stream-stream join requirement).  An ack
    later than ``max_ack_delay`` NEVER matches — deterministically,
    by the range predicate, not by watermark timing — which is the
    requeue-detection contract: with ``how="left_outer"`` the
    unmatched turn is emitted with NULL ack columns once the
    watermark passes (the batch analogue is the reject/dead-letter
    path, operators/validate.py).

    Emits the turn columns plus ``ack_ts`` and ``ack_latency_ms``
    (exact BIGINT millisecond difference).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be inner or left_outer, got {how!r}")
    t = turns.withWatermark("ts", turns_watermark).alias("t")
    a = acks.withWatermark("ack_ts", acks_watermark).alias("a")
    cond = (
        (F.col("t.conv_id") == F.col("a.conv_id"))
        & (F.col("t.turn_idx") == F.col("a.turn_idx"))
        & (F.col("a.ack_ts") >= F.col("t.ts"))
        & (F.col("a.ack_ts") <= F.col("t.ts") + F.expr(f"interval {max_ack_delay}"))
    )
    latency = (
        F.unix_millis(F.col("a.ack_ts")) - F.unix_millis(F.col("t.ts"))
    ).alias("ack_latency_ms")
    return t.join(a, cond, how).select("t.*", F.col("a.ack_ts"), latency)


def read_transcript_stream_jsonl(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
):
    """Streaming twin of sources/jsonl.py: an unbounded JSONL transcript
    feed → (valid stream, dead-letter stream), the strict-parse reject
    boundary applied per micro-batch.  Duplicate-key dedup is NOT done
    here (a window is illegal on a stream) — redelivery handling belongs
    to the stateful plane, exactly as in the batch-incremental design.
    Both returned streams read from the same source with independent
    offsets; route them to their sinks in one ``foreachBatch`` if the
    valid/dead split must share a trigger."""
    from mq_to_db_spark.sources.jsonl import parse_transcript_lines

    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.text(path)
    return parse_transcript_lines(lines, check_duplicates=False)
