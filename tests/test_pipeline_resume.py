"""Pipeline end-to-end + kill/resume (SURVEY.md §5 points 3-4).

The resume test mirrors the reference's delivery contract: a message is
ack'd only after durable store (messages.go:131-148); a crash before ack
means redelivery, and the store must be idempotent under redelivery."""

import pytest
from pyspark.sql import functions as F

from mq_to_db_spark.config import EngineConfig
from mq_to_db_spark.fixtures.generator import TRANSCRIPT_SCHEMA
from mq_to_db_spark.plans.pipeline import RollupPipeline
from mq_to_db_spark.operators.rollup import rollup_from_raw, cascade
from tests.conftest import assert_pdf_equal


CFG = EngineConfig(conv_buckets=8, shuffle_partitions=4)


@pytest.fixture()
def pipe(tmp_path):
    return RollupPipeline(str(tmp_path / "wh"), CFG)


def test_end_to_end_counts_and_rollups(spark, dirty, transcripts, pipe):
    report = pipe.run(spark, dirty, batch_id="b1")
    # all 6 dirty rows count as rejected (5 unit-full + 1 with null unit
    # cols — unitless rejects reach the dead letter and the counter, but
    # have no lineage unit)
    assert report.n_rejected == 6
    assert report.n_ok == transcripts.count()
    assert report.n_units_skipped == 0

    # dead letter holds exactly the rejected rows
    dl = pipe.read_dead_letter(spark)
    assert dl.count() == report.n_rejected == 6

    # final per-dim rollups match direct single-pass rollups on clean data
    for dim, keys in (("global", []), ("conv", ["conv_id"])):
        got = pipe.read_rollup(spark, dim, "1h").toPandas()
        want = rollup_from_raw(transcripts, "1h", keys).toPandas()
        assert_pdf_equal(got, want, ["bucket_start", *keys])
    got = pipe.read_rollup(spark, "tool", "1d").toPandas()
    want = rollup_from_raw(
        transcripts.filter("tool is not null"), "1d", ["tool"]
    ).toPandas()
    assert_pdf_equal(got, want, ["bucket_start", "tool"])


def test_rerun_is_noop(spark, transcripts, pipe):
    r1 = pipe.run(spark, transcripts, batch_id="b1")
    r2 = pipe.run(spark, transcripts, batch_id="b2")
    assert r2.n_units_skipped == r1.n_units_total
    assert r2.n_in == 0
    # lineage has exactly one row per unit
    lin = pipe.read_lineage(spark)
    assert lin.count() == r1.n_units_total
    assert lin.select("partition_id").distinct().count() == r1.n_units_total


def test_kill_and_resume_no_dupes_no_missing(spark, transcripts, pipe):
    """Crash after the first tier commit but before ack (markers): rerun
    must reprocess everything, and every rolled-up point must be correct
    with no duplicates — effectively-once."""
    with pytest.raises(RuntimeError, match="injected failure"):
        pipe.run(spark, transcripts, batch_id="b1",
                 fail_after_commit_of="rollup_1m")
    assert pipe.committed_units() == set()  # nothing acked

    r2 = pipe.run(spark, transcripts, batch_id="b2")
    assert r2.n_units_skipped == 0  # full redelivery
    for dim, keys, tier in (("global", [], "1m"), ("conv", ["conv_id"], "1d")):
        got = pipe.read_rollup(spark, dim, tier).toPandas()
        want = rollup_from_raw(transcripts, tier, keys).toPandas()
        assert_pdf_equal(got, want, ["bucket_start", *keys])
    # total point conservation on the 1m global tier
    total = pipe.read_rollup(spark, "global", "1m").agg(F.sum("n_turns")).collect()[0][0]
    assert total == transcripts.count()


def test_partial_commit_then_resume_skips_committed(spark, transcripts, pipe):
    """Split the input into two unit-disjoint halves, commit the first,
    then run the full input: only the second half's units process."""
    from mq_to_db_spark.plans.pipeline import unit_cols

    with_units = unit_cols(transcripts, CFG.conv_buckets)
    half1 = with_units.filter("conv_bucket < 4").drop("conv_bucket", "date")
    r1 = pipe.run(spark, half1, batch_id="b1")
    r_full = pipe.run(spark, transcripts, batch_id="b2")
    assert r_full.n_units_skipped == r1.n_units_total
    assert r_full.n_in == transcripts.count() - r1.n_in
    got = pipe.read_rollup(spark, "global", "1h").toPandas()
    want = rollup_from_raw(transcripts, "1h", []).toPandas()
    assert_pdf_equal(got, want, ["bucket_start"])


def test_gapfilled_read(spark, transcripts, pipe):
    pipe.run(spark, transcripts, batch_id="b1")
    filled = pipe.read_rollup(spark, "global", "1h", gap_filled=True).toPandas()
    dead = filled[filled.bucket_start.dt.hour.isin([3, 4, 5])]
    assert len(dead) > 0
    assert (dead.n_turns == 0).all()


def test_job_metrics_table(spark, dirty, transcripts, pipe):
    """North-rule 'lineage + metrics': each batch appends one durable
    metrics row (Prometheus counter-family analogue) consistent with the
    returned BatchReport."""
    r1 = pipe.run(spark, dirty, batch_id="m1")
    m = pipe.read_metrics(spark).toPandas()
    assert len(m) == 1
    row = m.iloc[0]
    assert row.batch_id == "m1"
    assert row.n_in == r1.n_in and row.n_ok == r1.n_ok and row.n_rejected == r1.n_rejected
    assert row.points_written["rollup_1m"] > 0
    assert row.engine_version
    # fully-skipped rerun writes no metrics row (no counters incremented)
    pipe.run(spark, dirty, batch_id="m2")
    assert pipe.read_metrics(spark).count() == 1


def test_run_triggers_no_dataframe_count(spark, dirty, transcripts, pipe, monkeypatch):
    """The batch derives every count (units, rejects, unitless) from the
    single collected unit-stats aggregation — no `DataFrame.count()`
    action anywhere in `run` (the dead-letter gate used to re-scan the
    tagged input just to decide whether to append)."""
    from pyspark.sql import DataFrame

    calls = []
    orig = DataFrame.count
    monkeypatch.setattr(
        DataFrame, "count", lambda self: (calls.append(1), orig(self))[1]
    )
    report = pipe.run(spark, dirty, batch_id="nocount")
    assert report.n_rejected > 0  # the dirty fixture exercises the DLX path
    assert not calls, f"run() issued {len(calls)} DataFrame.count() action(s)"
