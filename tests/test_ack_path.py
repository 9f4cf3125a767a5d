"""The micro-batch ack path (plans/pipeline.py ``run``): driver-side rows
(unit list, lineage, job metrics) enter Spark through Arrow, the
committed-units semi-join runs only when some unit is committed, rows
with no unit reach the dead letter exactly once either way, and an
append batch is acked by its job_metrics commit alone."""

import math
import time

import pytest
from pyspark.sql import functions as F

from mq_to_db_spark.config import EngineConfig
from mq_to_db_spark.fixtures.generator import (
    TRANSCRIPT_SCHEMA,
    generate_transcripts_pdf,
    inject_dirty_rows,
)
from mq_to_db_spark.plans.pipeline import RollupPipeline, unit_cols
from mq_to_db_spark.sources.tableio import partition_values

CFG = EngineConfig(conv_buckets=8)


@pytest.fixture(scope="module")
def small_pdf():
    return generate_transcripts_pdf(600, seed=5)


@pytest.mark.parametrize("mode", ["overwrite", "append"])
def test_first_delivery_dead_letters_each_unitless_reject_once(
    spark, tmp_path, small_pdf, mode
):
    pipe = RollupPipeline(str(tmp_path / "wh"), CFG)
    df = spark.createDataFrame(inject_dirty_rows(small_pdf), schema=TRANSCRIPT_SCHEMA)
    report = pipe.run(spark, df, batch_id="first", mode=mode)
    assert report.n_units_skipped == 0 and report.n_rejected == 6
    dl = pipe.read_dead_letter(spark)
    assert dl.count() == 6
    assert dl.filter(F.col("conv_id").isNull()).count() == 1
    assert dl.filter(F.col("ts").isNull()).count() == 1
    dupes = dl.groupBy("conv_id", "turn_idx", "ts", "reason").count().filter("count > 1")
    assert dupes.count() == 0


def _versions(pipe):
    return {name: t.current_version() for name, t in pipe.tables.items()}


@pytest.mark.parametrize("mode", ["overwrite", "append"])
def test_unitless_delivery_is_dead_lettered_and_acked(spark, tmp_path, small_pdf, mode):
    """A delivery whose every row has a null ``ts`` has no unit: each row
    is dead-lettered once, one job_metrics row counts them, and that
    commit acks the batch, so a same-batch_id replay writes nothing.  In
    overwrite mode a fully acked batch redelivered under a new id also
    writes nothing, its unit-less rejects included."""
    pipe = RollupPipeline(str(tmp_path / "wh"), CFG)
    pdf = small_pdf.head(3).copy()
    pdf["ts"] = None
    report = pipe.run(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA),
                      batch_id="nots", mode=mode)
    assert (report.n_units_total, report.n_in, report.n_rejected) == (0, 3, 3)
    dl = pipe.read_dead_letter(spark)
    assert dl.count() == 3 and dl.filter(F.col("ts").isNotNull()).count() == 0
    (m,) = pipe.read_metrics(spark).collect()
    assert (m.batch_id, m.n_in, m.n_rejected, m.n_ok) == ("nots", 3, 3, 0)
    assert pipe.metrics.has_batch("nots") and pipe.markers.list() == []

    before = _versions(pipe)
    replay = pipe.run(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA),
                      batch_id="nots", mode=mode)
    assert replay.n_in == 0 and _versions(pipe) == before

    if mode == "overwrite":
        dirty = spark.createDataFrame(inject_dirty_rows(small_pdf), schema=TRANSCRIPT_SCHEMA)
        first = pipe.run(spark, dirty, batch_id="full")
        assert first.n_units_total > 0 and first.n_rejected == 6
        before = _versions(pipe)
        again = pipe.run(spark, dirty, batch_id="full-again")
        assert again.n_units_skipped == again.n_units_total and again.n_in == 0
        assert _versions(pipe) == before


def test_append_batch_writes_no_marker(spark, tmp_path, small_pdf):
    """An append micro-batch is acked by its job_metrics commit: no file
    appears under ``_checkpoints``, and its replay is a full skip."""
    pipe = RollupPipeline(str(tmp_path / "wh"), CFG)
    df = spark.createDataFrame(small_pdf, schema=TRANSCRIPT_SCHEMA)
    report = pipe.run(spark, df, batch_id="mb0", mode="append")
    assert report.n_units_total > 0 and pipe.metrics.has_batch("mb0")
    ckpt = tmp_path / "wh" / "_checkpoints"
    assert [p for p in ckpt.rglob("*") if p.is_file()] == []
    before = _versions(pipe)
    replay = pipe.run(spark, df, batch_id="mb0", mode="append")
    assert replay.n_units_skipped == replay.n_units_total == report.n_units_total
    assert _versions(pipe) == before


def test_partial_redelivery_writes_only_unmarked_units(spark, tmp_path, small_pdf):
    """Commit half of the units, then redeliver everything: lineage rows
    and rollup files of the second batch cover exactly the other half."""
    pipe = RollupPipeline(str(tmp_path / "wh"), CFG)
    full = spark.createDataFrame(small_pdf, schema=TRANSCRIPT_SCHEMA)
    with_units = unit_cols(full, CFG.conv_buckets)
    first = pipe.run(
        spark, with_units.filter("conv_bucket < 4").drop("conv_bucket", "date"), "b1"
    )
    marked = pipe.committed_units()
    assert first.n_units_total == len(marked) > 0

    report = pipe.run(spark, full, batch_id="b2")
    all_units = {
        (r.conv_bucket, str(r.date))
        for r in with_units.select("conv_bucket", "date").distinct().collect()
    }
    unmarked = all_units - marked
    assert unmarked and report.n_units_skipped == len(marked)

    lin = pipe.read_lineage(spark).filter(F.col("batch_id") == "b2").collect()
    assert {(r.conv_bucket, str(r.date)) for r in lin} == unmarked
    snap = pipe.rollup.snapshot()
    assert snap.summary["batch_id"] == "b2"
    units = {
        (int(pv["conv_bucket"]), pv["date"])
        for pv in map(partition_values, snap.added_files)
    }
    assert units == unmarked


@pytest.fixture()
def new_york_tz(monkeypatch):
    """Run the driver process in a non-UTC local time zone."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_committed_at_is_utc_under_local_tz(spark, tmp_path, small_pdf, new_york_tz):
    """``committed_at`` is the commit's UTC instant whatever the driver
    process's ``TZ``; the ``points_written`` map round-trips."""
    assert time.localtime(0).tm_gmtoff != 0
    pipe = RollupPipeline(str(tmp_path / "wh"), CFG)
    df = spark.createDataFrame(small_pdf, schema=TRANSCRIPT_SCHEMA)
    t0 = math.floor(time.time())
    report = pipe.run(spark, df, batch_id="tz")
    t1 = math.ceil(time.time())
    for frame in (pipe.read_lineage(spark), pipe.read_metrics(spark)):
        secs = {r[0] for r in frame.select(F.unix_timestamp("committed_at")).collect()}
        assert len(secs) == 1 and t0 <= secs.pop() <= t1
    (points,) = pipe.read_metrics(spark).select("points_written").first()
    assert points == report.points_written and points["1m"] > 0
