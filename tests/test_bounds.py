"""Per-operation wall-clock bounds (reference `maxQueryTimeOut`,
/root/reference/internal/storage/pgsql/pgsql.go:86-96): a Spark action
that exceeds its bound has its job group cancelled and raises
QueryTimeoutError; completed operations return results unchanged; the
process-local counters mirror the reference's storage metric families."""

import time

import pytest
from pyspark.sql import functions as F

from mq_to_db_spark.plans.bounds import (
    BoundsMetrics,
    QueryTimeoutError,
    bounded_action,
    bounded_ping,
)


def test_bounded_action_passthrough(spark):
    m = BoundsMetrics()
    out = bounded_action(
        spark,
        lambda: spark.range(1000).agg(F.sum("id")).collect()[0][0],
        timeout_sec=60,
        metrics=m,
    )
    assert out == 499500
    assert (m.exec_total, m.exec_timeout_total) == (1, 0)


def test_bounded_action_propagates_errors(spark):
    m = BoundsMetrics()
    with pytest.raises(ValueError, match="boom"):
        bounded_action(spark, lambda: (_ for _ in ()).throw(ValueError("boom")),
                       timeout_sec=10, metrics=m)
    assert (m.exec_total, m.exec_timeout_total) == (1, 0)


def test_bounded_action_cancels_on_deadline(spark):
    """A deliberately slow distributed stage (per-partition sleep) must be
    cancelled at the bound: the call returns within a small multiple of
    the bound, raises QueryTimeoutError, and increments the timeout
    counter — the context.DeadlineExceeded path of pgsql.go ExecContext."""
    m = BoundsMetrics()

    def _sleepy(it):
        for pdf in it:
            time.sleep(30)
            yield pdf

    df = spark.range(8).repartition(8).mapInPandas(_sleepy, "id long")
    t0 = time.monotonic()
    with pytest.raises(QueryTimeoutError):
        bounded_action(spark, lambda: df.count(), timeout_sec=2.0,
                       description="sleepy-count", metrics=m)
    elapsed = time.monotonic() - t0
    assert elapsed < 15, f"cancel did not bound the action ({elapsed:.1f}s)"
    assert (m.exec_total, m.exec_timeout_total) == (1, 1)
    assert m.last_timeout_group is not None
    # the session must remain usable after a group cancel
    assert spark.range(10).count() == 10


def test_bounded_ping(spark):
    m = BoundsMetrics()
    assert bounded_ping(spark, timeout_sec=60, metrics=m) is True
    assert (m.ping_total, m.ping_timeout_total) == (1, 0)


def test_pipeline_commits_under_bound(spark, tmp_path):
    """A pipeline with a generous per-op bound behaves identically to an
    unbounded one (every sink commit runs through the bounded path)."""
    from mq_to_db_spark.config import EngineConfig
    from mq_to_db_spark.fixtures.generator import generate_transcripts_pdf
    from mq_to_db_spark.plans.pipeline import RollupPipeline

    pdf = generate_transcripts_pdf(n_turns=400, seed=7)
    df = spark.createDataFrame(pdf)
    pipe = RollupPipeline(
        str(tmp_path / "wh"),
        EngineConfig(conv_buckets=4, max_query_timeout_sec=300.0),
    )
    report = pipe.run(spark, df, batch_id="b1")
    assert report.n_in == 400
    assert pipe.read_rollup(spark, "global", "1h").count() > 0


def test_pipeline_timeout_aborts_before_ack(spark, tmp_path):
    """A sink commit that blows its bound fails the batch BEFORE its ack
    (the job_metrics commit), so a redelivery replays the whole batch — the
    at-least-once story a reference statement timeout produces."""
    from mq_to_db_spark.config import EngineConfig
    from mq_to_db_spark.fixtures.generator import generate_transcripts_pdf
    from mq_to_db_spark.plans.pipeline import RollupPipeline
    from mq_to_db_spark.sources.tableio import TableIO

    class SlowTableIO(TableIO):
        def append(self, df, summary=None):
            slow = df.mapInPandas(
                lambda it: (time.sleep(20) or pdf for pdf in it), df.schema
            )
            return super().append(slow, summary)

    def factory(name, part=None):
        cls = SlowTableIO if name == "rollup_tiers" else TableIO
        return cls(str(tmp_path / "wh" / name), part)

    pdf = generate_transcripts_pdf(n_turns=200, seed=7)
    df = spark.createDataFrame(pdf)
    pipe = RollupPipeline(
        str(tmp_path / "wh"),
        EngineConfig(conv_buckets=2, max_query_timeout_sec=3.0),
        table_factory=factory,
    )
    with pytest.raises(QueryTimeoutError):
        pipe.run(spark, df, batch_id="b1", mode="append")
    assert not pipe.metrics.has_batch("b1")  # no ack escaped

    # redelivery with the bound lifted, on plain IO (the slow wrapper was
    # the fault injector), replays cleanly end-to-end
    pipe2 = RollupPipeline(str(tmp_path / "wh"), EngineConfig(conv_buckets=2))
    report = pipe2.run(spark, df, batch_id="b1", mode="append")
    assert report.n_in == 200
    assert pipe2.metrics.has_batch("b1")
