"""Structured Streaming rollup: drained stream == batch rollup on closed
windows; checkpointed incremental restart; foreachBatch integration with
the batch pipeline.

Append-mode semantics under watermarking: a window emits only once its
end passes the watermark, so the trailing window(s) of a drained stream
stay in state — tests compare against the batch rollup restricted to
closed windows (end <= max ts)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mq_to_db_spark.operators.rollup import rollup_from_raw
from mq_to_db_spark.streaming.stream import (
    run_stream_foreach_batch,
    run_stream_to_parquet,
)
from tests.conftest import assert_pdf_equal


def _closed(want: pd.DataFrame, max_ts, tier_seconds: int) -> pd.DataFrame:
    end = want.bucket_start + pd.Timedelta(seconds=tier_seconds)
    return want[end <= max_ts].reset_index(drop=True)


def test_streaming_rollup_matches_batch_closed_windows(
    spark, transcripts, transcripts_pdf, tmp_path
):
    inp = tmp_path / "in"
    inp.mkdir()
    transcripts_pdf.to_parquet(inp / "part-0.parquet", index=False)
    q = run_stream_to_parquet(
        spark, str(inp), str(tmp_path / "out"), str(tmp_path / "ckpt"),
        tier="1m", watermark="0 seconds",
    )
    assert q.awaitTermination(360), "availableNow drain did not finish in time"
    got = spark.read.parquet(str(tmp_path / "out")).toPandas()
    want = _closed(
        rollup_from_raw(transcripts, "1m").toPandas(),
        transcripts_pdf.ts.max(), 60,
    )
    assert_pdf_equal(got, want, ["bucket_start"])


def test_streaming_resume_is_incremental(spark, transcripts, transcripts_pdf, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    # time-ordered deliveries (streams deliver roughly in event order;
    # the batch path, not this one, owns heavily-late data)
    cut = transcripts_pdf.ts.median()
    transcripts_pdf[transcripts_pdf.ts < cut].to_parquet(inp / "part-0.parquet", index=False)
    q = run_stream_to_parquet(spark, str(inp), out, ckpt, tier="1d", watermark="0 seconds")
    assert q.awaitTermination(360), "availableNow drain did not finish in time"
    n_files_1 = spark.read.parquet(out).count()
    transcripts_pdf[transcripts_pdf.ts >= cut].to_parquet(inp / "part-1.parquet", index=False)
    q2 = run_stream_to_parquet(spark, str(inp), out, ckpt, tier="1d", watermark="0 seconds")
    assert q2.awaitTermination(360), "availableNow drain did not finish in time"
    rows = spark.read.parquet(out).toPandas()
    # every closed 1d window's total matches the batch rollup (partials
    # for a window may appear across drains; sum them)
    got = rows.groupby("bucket_start").n_turns.sum()
    want_df = _closed(
        rollup_from_raw(transcripts, "1d").toPandas(), transcripts_pdf.ts.max(), 86400
    )
    want = want_df.set_index("bucket_start").n_turns
    # drain-2 rows falling into windows closed during drain 1 are dropped
    # as late (watermark 0) — with a time-ordered split only the boundary
    # window can be affected; all others match exactly
    boundary = pd.Timestamp(cut).floor("D")
    for b, n in want.items():
        if b == boundary:
            assert got.get(b, 0) <= n
        else:
            assert got.get(b, 0) == n
    assert len(rows) >= n_files_1


def test_foreach_batch_runs_batch_pipeline(spark, transcripts_pdf, tmp_path):
    from mq_to_db_spark.config import EngineConfig
    from mq_to_db_spark.plans.pipeline import RollupPipeline

    inp = tmp_path / "in"
    inp.mkdir()
    transcripts_pdf.to_parquet(inp / "part-0.parquet", index=False)
    pipe = RollupPipeline(str(tmp_path / "wh"), EngineConfig(conv_buckets=8))
    reports = []

    def handle(df, batch_id):
        reports.append(pipe.run(df.sparkSession, df, batch_id=f"stream-{batch_id}"))

    q = run_stream_foreach_batch(spark, str(inp), str(tmp_path / "ckpt"), handle)
    assert q.awaitTermination(360), "availableNow drain did not finish in time"
    assert len(reports) == 1
    assert reports[0].n_ok == len(transcripts_pdf)
    got = pipe.read_rollup(spark, "global", "1h").agg(F.sum("n_turns")).collect()[0][0]
    assert got == len(transcripts_pdf)


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving beyond the watermark after its window was emitted is
    DROPPED by the streaming path (the documented trade-off; the
    batch-incremental pipeline instead MERGEs it into its bucket on the
    next batch — see stream.py docstring)."""
    import pandas as pd

    def turns(rows):
        return pd.DataFrame(
            {
                "conv_id": pd.array([r[0] for r in rows], dtype="string"),
                "turn_idx": pd.array([r[1] for r in rows], dtype="int32"),
                "role": "user",
                "text": "hello world",
                "tool": pd.array([None] * len(rows), dtype="string"),
                "ts": pd.to_datetime([r[2] for r in rows]).astype("datetime64[us]"),
            }
        )

    inp = tmp_path / "in"
    inp.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    # on-time batch: two turns in the 00:02 window + one at 01:00 that
    # advances the watermark past 00:02 (wm = 01:00 - 10 min = 00:50)
    turns(
        [("c1", 0, "2025-01-01 00:02:10"), ("c1", 1, "2025-01-01 00:02:40"),
         ("c2", 0, "2025-01-01 01:00:00")]
    ).to_parquet(inp / "f1.parquet", index=False)
    q = run_stream_to_parquet(spark, str(inp), out, ckpt, tier="1m", watermark="10 minutes")
    assert q.awaitTermination(360), "availableNow drain did not finish in time"
    first = spark.read.parquet(out).toPandas().set_index("bucket_start")
    assert first.loc[pd.Timestamp("2025-01-01 00:02:00")].n_turns == 2

    # late delivery into the already-emitted 00:02 window
    turns([("c3", 0, "2025-01-01 00:02:50")]).to_parquet(inp / "f2.parquet", index=False)
    q2 = run_stream_to_parquet(spark, str(inp), out, ckpt, tier="1m", watermark="10 minutes")
    assert q2.awaitTermination(360), "availableNow drain did not finish in time"
    after = spark.read.parquet(out).toPandas()
    b = after[after.bucket_start == pd.Timestamp("2025-01-01 00:02:00")]
    assert len(b) == 1 and int(b.n_turns.iloc[0]) == 2  # late row dropped, no dup window


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


def test_streaming_sliding_rollup_matches_batch_over_time(
    spark, transcripts, transcripts_pdf, tmp_path
):
    """Sliding-window streaming twin vs the batch over_time_grid: on
    off-boundary data (the generator's timestamps are second-grained,
    never on a 10-minute edge at µs precision... unless they are — so
    boundary rows are filtered from BOTH sides) every emitted closed
    window must carry identical count/sum/min/max."""
    from mq_to_db_spark.operators.resample import over_time_grid
    from mq_to_db_spark.streaming.stream import streaming_sliding_rollup

    # keep only off-boundary turns so PromQL (t-range, t] and Spark
    # [start, end) window semantics coincide
    def off_boundary(pdf):
        us = pdf.ts.astype("int64") // 1000
        return pdf[(us % 600_000_000 != 0)]

    pdf = off_boundary(transcripts_pdf)
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
    # and the emitted set is exactly the closed-window prefix
    max_ts = pdf.ts.max()
    closed = {t for t in want_all if t <= max_ts}
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
