"""Structured Streaming ingest: every micro-batch runs the full
RollupPipeline (effectively-once across micro-batches, replays and late
turns), the sliding-window twin of ``over_time_grid``, and the
watermarked stream-stream ack join."""

import pandas as pd
from pyspark.sql import functions as F


def test_streaming_pipeline_append_mode_effectively_once(spark, tmp_path):
    """Full pipeline per micro-batch: rollups equal the batch-mode result
    after read-side merge; a unit split across micro-batches loses no
    turns; replaying a batch_id is a no-op."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mq_to_db_spark.config import EngineConfig
    from mq_to_db_spark.fixtures.generator import (
        TRANSCRIPT_SCHEMA,
        generate_transcripts_pdf,
    )
    from mq_to_db_spark.plans.pipeline import RollupPipeline
    from mq_to_db_spark.streaming.stream import run_streaming_pipeline

    pdf = generate_transcripts_pdf(3000, seed=21)
    # split one conversation's day across the two files → the same
    # (conv_bucket, date) unit appears in both micro-batches
    half = len(pdf) // 2
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pdf.iloc[:half].to_parquet(in_dir / "part-0.parquet", index=False)
    pdf.iloc[half:].to_parquet(in_dir / "part-1.parquet", index=False)

    pipe = RollupPipeline(str(tmp_path / "wh"), EngineConfig(conv_buckets=4))
    q = run_streaming_pipeline(
        spark, str(in_dir), str(tmp_path / "ckpt"), pipe,
        available_now=True, max_files_per_trigger=1,
    )
    assert q.awaitTermination(360), "availableNow drain did not finish in time"

    # two genuine micro-batches ran (one job_metrics ack for each)
    acked = pipe.metrics.batch_ids()
    assert acked == {"stream-000000", "stream-000001"}, acked

    got = (
        pipe.read_rollup(spark, "global", "1h")
        .orderBy("bucket_start")
        .toPandas()
    )
    # oracle: batch mode over the full input in a fresh warehouse
    pipe2 = RollupPipeline(str(tmp_path / "wh2"), EngineConfig(conv_buckets=4))
    full = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    pipe2.run(spark, full, batch_id="oracle")
    want = (
        pipe2.read_rollup(spark, "global", "1h")
        .orderBy("bucket_start")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True), check_dtype=False
    )

    # replay: same batch_id + same data in append mode → all units skipped
    df0 = spark.read.parquet(str(in_dir / "part-0.parquet"))
    rep = pipe.run(spark, df0, batch_id="stream-000000", mode="append")
    assert rep.n_units_skipped == rep.n_units_total > 0
    got2 = pipe.read_rollup(spark, "global", "1h").orderBy("bucket_start").toPandas()
    pd.testing.assert_frame_equal(
        got2.reset_index(drop=True), want.reset_index(drop=True), check_dtype=False
    )


def test_streaming_pipeline_periodic_finalize(spark, tmp_path):
    """finalize_every_n_batches collapses partials inline with the
    stream: after the 2nd micro-batch triggers finalize, read_rollup is
    a plain scan (no Aggregate node) and still equals the batch-mode
    oracle exactly."""
    import pandas as pd

    from mq_to_db_spark.config import EngineConfig
    from mq_to_db_spark.fixtures.generator import (
        TRANSCRIPT_SCHEMA,
        generate_transcripts_pdf,
    )
    from mq_to_db_spark.plans.pipeline import RollupPipeline
    from mq_to_db_spark.streaming.stream import run_streaming_pipeline

    pdf = generate_transcripts_pdf(2400, seed=33)
    half = len(pdf) // 2
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    pdf.iloc[:half].to_parquet(in_dir / "part-0.parquet", index=False)
    pdf.iloc[half:].to_parquet(in_dir / "part-1.parquet", index=False)

    pipe = RollupPipeline(
        str(tmp_path / "wh"), EngineConfig(conv_buckets=4)
    )
    q = run_streaming_pipeline(
        spark, str(in_dir), str(tmp_path / "ckpt"), pipe,
        available_now=True, max_files_per_trigger=1,
        finalize_every_n_batches=2,
    )
    assert q.awaitTermination(360), "availableNow drain did not finish in time"

    got_df = pipe.read_rollup(spark, "global", "1h")
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan, plan  # finalized → scan-only read

    pipe2 = RollupPipeline(
        str(tmp_path / "wh2"), EngineConfig(conv_buckets=4)
    )
    pipe2.run(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA), batch_id="oracle")
    want = pipe2.read_rollup(spark, "global", "1h").orderBy("bucket_start").toPandas()
    got = got_df.orderBy("bucket_start").toPandas()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True), check_dtype=False
    )


def test_streaming_pipeline_counts_a_late_turn_across_drains(spark, tmp_path):
    """A turn delivered in a later drain, for a minute an earlier drain
    already committed, is acked once and counted in that minute: the
    stream's rollup equals batch mode over every delivered turn."""
    from mq_to_db_spark.config import EngineConfig
    from mq_to_db_spark.fixtures.generator import (
        TRANSCRIPT_SCHEMA,
        generate_transcripts_pdf,
    )
    from mq_to_db_spark.plans.pipeline import RollupPipeline
    from mq_to_db_spark.streaming.stream import run_streaming_pipeline

    pdf = generate_transcripts_pdf(1200, seed=45)
    in_dir, ckpt = tmp_path / "in", str(tmp_path / "ckpt")
    in_dir.mkdir()
    pdf.to_parquet(in_dir / "part-0.parquet", index=False)
    pipe = RollupPipeline(str(tmp_path / "wh"), EngineConfig(conv_buckets=4))

    def drain():
        q = run_streaming_pipeline(spark, str(in_dir), ckpt, pipe)
        assert q.awaitTermination(360), "availableNow drain did not finish in time"

    def minute_counts():
        got = pipe.read_rollup(spark, "global", "1m").toPandas()
        return got.set_index("bucket_start").n_turns

    drain()
    assert pipe.metrics.batch_ids() == {"stream-000000"}
    before = minute_counts()

    late = pdf.iloc[[len(pdf) // 2]].copy()
    late["conv_id"] = "late-conv"
    late.to_parquet(in_dir / "part-1.parquet", index=False)
    minute = late.ts.dt.floor("min").iloc[0]
    assert before[minute] > 0  # the first drain committed this minute
    drain()

    assert pipe.metrics.batch_ids() == {"stream-000000", "stream-000001"}
    after = minute_counts()
    assert after[minute] == before[minute] + 1

    oracle = RollupPipeline(str(tmp_path / "wh2"), EngineConfig(conv_buckets=4))
    full = pd.concat([pdf, late], ignore_index=True)
    oracle.run(spark, spark.createDataFrame(full, schema=TRANSCRIPT_SCHEMA), batch_id="oracle")
    want = oracle.read_rollup(spark, "global", "1m").orderBy("bucket_start").toPandas()
    got = pipe.read_rollup(spark, "global", "1m").orderBy("bucket_start").toPandas()
    assert int(got.n_turns.sum()) == len(full)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_sliding_rollup_matches_batch_over_time(
    spark, transcripts, transcripts_pdf, tmp_path
):
    """Sliding-window streaming twin vs the batch over_time_grid: every
    emitted closed window carries identical count/sum/min/max, turns
    exactly on a 10-minute edge included (both put an edge turn in the
    window that ends at it, PromQL's (t − range, t])."""
    from mq_to_db_spark.operators.resample import over_time_grid
    from mq_to_db_spark.streaming.stream import streaming_sliding_rollup

    # two more turns exactly on 10-minute edges, well before the end
    edge = transcripts_pdf.iloc[[10, len(transcripts_pdf) // 2]].copy()
    edge["conv_id"] = ["edge-0", "edge-1"]
    edge["ts"] = edge.ts.dt.floor("10min")
    pdf = pd.concat([transcripts_pdf, edge], ignore_index=True)
    assert (pdf.ts == pdf.ts.dt.floor("10min")).sum() >= 2
    inp = tmp_path / "in"
    inp.mkdir()
    pdf.to_parquet(inp / "part-0.parquet", index=False)
    from mq_to_db_spark.streaming.stream import read_transcript_stream

    roll = streaming_sliding_rollup(
        read_transcript_stream(spark, str(inp)),
        range_dur="30 minutes", slide="10 minutes", watermark="0 seconds",
    )
    q = (
        roll.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(360)
    got = {
        r.grid_ts: (r.n_samples, r.sum_v, r.min_v, r.max_v)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got, "stream emitted nothing"
    batch = over_time_grid(
        spark.createDataFrame(pdf).withColumn(
            "text_len", F.length("text").cast("long")
        ),
        [],
        value_col="text_len",
        range_s=1800,
        step_s=600,
        tiebreak=("conv_id", "turn_idx"),
    )
    want_all = {
        r.grid_ts: (r.n_samples, r.sum_v, r.min_v, r.max_v)
        for r in batch.collect()
    }
    # append mode: only windows whose end passed the final watermark
    # emitted — every emitted window must match the batch evaluation
    for t, vals in got.items():
        assert want_all[t] == vals, (t, vals, want_all[t])
    # and the emitted set is exactly the closed-window prefix (a window
    # ending at the last turn could still take a turn at that instant)
    max_ts = pdf.ts.max()
    closed = {t for t in want_all if t < max_ts}
    assert set(got) == closed


def test_stream_stream_ack_join_matches_and_bounds(spark, tmp_path):
    """Two file streams (turns + acks) through the watermarked
    stream-stream join: in-window acks match with exact latency,
    over-deadline acks never match (range predicate, deterministic),
    and the physical plan carries watermarks on both sides."""
    import datetime as dt
    import os

    from mq_to_db_spark.fixtures.generator import TRANSCRIPT_SCHEMA
    from mq_to_db_spark.streaming.stream import (
        read_transcript_stream,
        streaming_ack_join,
    )

    t0 = dt.datetime(2025, 1, 1, 0, 0, 0)
    turns = [
        ("c1", 0, "user", "hi", None, t0),
        ("c1", 1, "assistant", "yo", None, t0 + dt.timedelta(seconds=10)),
        ("c2", 0, "user", "late-acked", None, t0 + dt.timedelta(seconds=20)),
    ]
    acks = [
        ("c1", 0, t0 + dt.timedelta(seconds=5)),        # in window (5s)
        ("c1", 1, t0 + dt.timedelta(seconds=40)),       # in window (30s cap)
        ("c2", 0, t0 + dt.timedelta(seconds=80)),       # 60s late -> never matches
    ]
    tdir, adir = str(tmp_path / "turns"), str(tmp_path / "acks")
    os.makedirs(tdir), os.makedirs(adir)
    spark.createDataFrame(turns, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tdir)
    spark.createDataFrame(
        acks, "conv_id string, turn_idx int, ack_ts timestamp"
    ).coalesce(1).write.mode("overwrite").parquet(adir)

    tstream = read_transcript_stream(spark, tdir)
    astream = spark.readStream.schema(
        "conv_id string, turn_idx int, ack_ts timestamp"
    ).parquet(adir)
    joined = streaming_ack_join(tstream, astream, max_ack_delay="30 seconds")
    q = (
        joined.writeStream.format("memory")
        .queryName("ackjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["conv_id"], r["turn_idx"]): r["ack_latency_ms"]
        for r in spark.sql("SELECT * FROM ackjoin").collect()
    }
    assert got == {("c1", 0): 5000, ("c1", 1): 30000}


def test_stream_stream_ack_join_validation(spark, tmp_path):
    import pytest

    from mq_to_db_spark.streaming.stream import streaming_ack_join

    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="how must"):
        streaming_ack_join(df, df, how="full")
