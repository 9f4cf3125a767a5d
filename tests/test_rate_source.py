"""Socket-backed (rate-micro-batch) streaming source: the live-broker
stand-in for the reference's AMQP subscription
(/root/reference/internal/consumer/rmq/rmq.go:170-217).

Unlike the file source, nothing touches the filesystem on the ingest
path — offsets live only in the streaming checkpoint, and a replayed
micro-batch redelivers byte-identical turns (the broker-requeue
property), which `turns_from_values` over `spark.range` lets tests
reconstruct exactly."""

import pandas as pd

from mq_to_db_spark.fixtures.generator import TRANSCRIPT_SCHEMA
from mq_to_db_spark.streaming.stream import (
    await_batches,
    run_rate_pipeline,
    turns_from_values,
)
from tests.test_tableio import WRITER, _writers


def test_turns_from_values_schema_and_key(spark):
    df = turns_from_values(
        spark.range(0, 500).withColumnRenamed("id", "value"), turns_per_conv=25
    )
    assert [f.name for f in df.schema.fields] == [f.name for f in TRANSCRIPT_SCHEMA.fields]
    assert [f.dataType for f in df.schema.fields] == [
        f.dataType for f in TRANSCRIPT_SCHEMA.fields
    ]
    pdf = df.toPandas()
    # dense unique MessageID analogue: (conv_id, turn_idx) is a key,
    # 25 turns per conversation, ts strictly increasing within a conv
    assert not pdf.duplicated(["conv_id", "turn_idx"]).any()
    assert (pdf.groupby("conv_id").size() == 25).all()
    assert pdf.groupby("conv_id").ts.apply(lambda s: s.is_monotonic_increasing).all()
    # role mix roughly follows the generator's 40/40/5/15 split
    mix = pdf.role.value_counts(normalize=True)
    assert 0.25 < mix["user"] < 0.55 and 0.25 < mix["assistant"] < 0.55
    # tool set only on tool turns
    assert pdf.loc[pdf.role == "tool", "tool"].notna().all()
    assert pdf.loc[pdf.role != "tool", "tool"].isna().all()


def test_rate_pipeline_effectively_once_vs_batch_oracle(spark, tmp_path):
    """Live subscription end-to-end: N micro-batches of the rate stream
    through the FULL RollupPipeline (append mode, one ack per batch)
    equal the batch-mode pipeline over the replayed value range."""
    from mq_to_db_spark.config import EngineConfig
    from mq_to_db_spark.plans.pipeline import RollupPipeline

    rows_per_batch, want_batches = 400, 3
    pipe = RollupPipeline(
        str(tmp_path / "wh"), EngineConfig(conv_buckets=4)
    )
    q = run_rate_pipeline(
        spark, str(tmp_path / "ckpt"), pipe,
        rows_per_batch=rows_per_batch, num_partitions=2,
        # hard processing bound: batches ≥ want are delivered but ignored,
        # so the stop() race (extra batches commit between the progress
        # poll and the stop, or a batch dies mid-commit) can't leak
        # anything past the oracle's replay range
        max_batches=want_batches,
    )
    done = await_batches(q, want_batches, timeout_sec=300)
    assert done >= want_batches
    done = want_batches  # batches past the bound were no-ops by construction

    # a job_metrics ack for every committed micro-batch
    assert {f"rate-{i:06d}" for i in range(want_batches)} <= pipe.metrics.batch_ids()
    # a micro-batch enters from the driver, so its rollup commit is
    # staged through Arrow, not Spark's writer
    assert _writers(pipe.rollup) == {WRITER["arrow"]}

    got = pipe.read_rollup(spark, "global", "1h").orderBy("bucket_start").toPandas()

    # oracle: batch mode over the exact replayed value range
    pipe2 = RollupPipeline(
        str(tmp_path / "wh2"), EngineConfig(conv_buckets=4)
    )
    replay = turns_from_values(
        spark.range(0, done * rows_per_batch).withColumnRenamed("id", "value")
    )
    pipe2.run(spark, replay, batch_id="oracle")
    want = pipe2.read_rollup(spark, "global", "1h").orderBy("bucket_start").toPandas()
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True), check_dtype=False
    )
