"""Pipeline end-to-end + kill/resume (SURVEY.md §5 points 3-4).

The resume test mirrors the reference's delivery contract: a message is
ack'd only after durable store (messages.go:131-148); a crash before ack
means redelivery, and the store must be idempotent under redelivery."""

import pytest

from mq_to_db_spark.config import EngineConfig
from mq_to_db_spark.fixtures.generator import TRANSCRIPT_SCHEMA
from mq_to_db_spark.plans.pipeline import RollupPipeline
from mq_to_db_spark.operators.rollup import rollup_from_raw
from tests.conftest import assert_pdf_equal


CFG = EngineConfig(conv_buckets=8)


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


#: every table commit of a batch, each a crash seam before the ack
SEAMS = ["rollup_tiers", "dead_letter", "lineage", "job_metrics"]
MODES = ["overwrite", "append"]


def _stored(spark, pipe):
    """What the store holds: three tier reads, the dead-letter counts by
    reason, and the lineage and metrics rows without their wall-clock
    columns."""
    tiers = {
        (dim, tier): (keys, pipe.read_rollup(spark, dim, tier).toPandas())
        for dim, keys, tier in (("global", [], "1m"), ("conv", ["conv_id"], "1h"),
                                ("tool", ["tool"], "1d"))
    }
    dead = {r.reason: r["count"]
            for r in pipe.read_dead_letter(spark).groupBy("reason").count().collect()}
    lineage = [r.asDict() for r in pipe.read_lineage(spark).drop("committed_at")
               .orderBy("partition_id").collect()]
    metrics = [r.asDict() for r in pipe.read_metrics(spark).drop("seconds", "committed_at").collect()]
    return tiers, (dead, lineage, metrics)


@pytest.fixture(scope="module")
def clean(spark, dirty, tmp_path_factory):
    """One clean delivery of the dirty batch per mode, as stored."""
    out = {}
    for mode in MODES:
        ref = RollupPipeline(str(tmp_path_factory.mktemp(f"clean-{mode}")), CFG)
        ref.run(spark, dirty, batch_id="b1", mode=mode)
        out[mode] = _stored(spark, ref)
    return out


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize("seam", SEAMS)
def test_kill_and_resume_no_dupes_no_missing(spark, dirty, pipe, clean, seam, mode):
    """Crash right after one table's commit, then replay the same
    batch_id — broker redelivery, or a streaming recovery replay in
    append mode: the store must equal one clean delivery, with no
    rolled-up point, reject, lineage or metrics row missing or
    duplicated — effectively-once.  The job_metrics commit is an append
    batch's ack, so a crash right after it leaves an acked batch whose
    replay is a full skip; every other crash is before the ack (overwrite
    mode acks with unit markers, written last)."""
    acked = mode == "append" and seam == "job_metrics"
    with pytest.raises(RuntimeError, match="injected failure"):
        pipe.run(spark, dirty, batch_id="b1", mode=mode, fail_after_commit_of=seam)
    assert pipe.committed_units() == set()
    assert pipe.metrics.has_batch("b1") == (seam == "job_metrics")
    versions = {name: t.current_version() for name, t in pipe.tables.items()}

    r2 = pipe.run(spark, dirty, batch_id="b1", mode=mode)
    if acked:  # full skip: no table gains a snapshot
        assert r2.n_units_skipped == r2.n_units_total > 0
        assert {name: t.current_version() for name, t in pipe.tables.items()} == versions
    else:  # full redelivery
        assert r2.n_units_skipped == 0
    tiers, rest = _stored(spark, pipe)
    want_tiers, want_rest = clean[mode]
    for key, (keys, want) in want_tiers.items():
        assert_pdf_equal(tiers[key][1], want, ["bucket_start", *keys])
    assert rest == want_rest


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
    assert row.points_written["1m"] > 0
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
