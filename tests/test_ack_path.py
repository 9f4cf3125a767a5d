"""The micro-batch ack path (plans/pipeline.py ``run``): driver-side rows
(unit list, lineage, job metrics) enter Spark through Arrow, the
committed-units semi-join runs only when some unit is committed, rows
with no unit reach the dead letter exactly once either way, an append
batch is acked by its job_metrics commit alone, and a batch scans its
input once through a cache that does not outlive it."""

import math
import os
import re
import time

import pandas as pd
import pyarrow.parquet as pq
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


def test_partial_redelivery_dead_letter_keeps_first_delivery_columns(
    spark, tmp_path, small_pdf
):
    """A partly acked overwrite redelivery prunes its units with a
    semi-join; its dead-letter files (and the manifest schema a read
    uses) keep the column order of a first delivery's."""
    pipe = RollupPipeline(str(tmp_path / "wh"), CFG)
    dirty = spark.createDataFrame(inject_dirty_rows(small_pdf), schema=TRANSCRIPT_SCHEMA)
    half = unit_cols(dirty, CFG.conv_buckets).filter("conv_bucket < 4").drop("conv_bucket", "date")
    pipe.run(spark, half, batch_id="b1")
    v1 = pipe.dead_letter.current_version()
    report = pipe.run(spark, dirty, batch_id="b2")
    v2 = pipe.dead_letter.current_version()
    assert 0 < report.n_units_skipped < report.n_units_total and v2 == v1 + 1

    def columns(version):
        snap = pipe.dead_letter.snapshot(version)
        files = {
            tuple(pq.read_schema(os.path.join(pipe.dead_letter.data_dir, f)).names)
            for f in snap.added_files
        }
        assert len(files) == 1
        return files.pop(), [f["name"] for f in snap.schema["fields"]]

    assert columns(v2) == columns(v1)
    assert pipe.read_dead_letter(spark).columns == list(columns(v1)[0])


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


# -- one input scan per batch, no cache left behind ----------------------------


def _executions(spark) -> list[int]:
    """The ids of every SQL execution the session has run so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    out = []
    while it.hasNext():
        out.append(it.next().executionId())
    return out


def _nodes_that_ran(spark, execution: int) -> list[tuple[str, str]]:
    """(name, description) of each plan node of ``execution`` that
    produced rows in it.  A plan over a cached relation also lists the
    cached plan's nodes, but they only count rows in the execution that
    filled the cache."""
    store = spark._jsparkSession.sharedState().statusStore()
    values = store.executionMetrics(execution)
    nodes = store.planGraph(execution).allNodes().iterator()
    out = []
    while nodes.hasNext():
        node = nodes.next()
        metrics = node.metrics().iterator()
        while metrics.hasNext():
            m = metrics.next()
            v = values.get(m.accumulatorId())
            if m.name() in ("number of output rows", "shuffle records written") and (
                v.isDefined() and int(v.get().replace(",", "")) > 0
            ):
                out.append((node.name(), node.desc()))
                break
    return out


def test_first_delivery_scans_its_input_once(spark, tmp_path, small_pdf):
    """The tagged delivery is cached by the unit-stats collect: the input
    file is scanned, and the duplicate-key shuffle
    (``hashpartitioning(conv_id, turn_idx, …)``) runs, in one of the
    batch's executions only — the rollup and dead-letter commits read
    the cache.  Every commit still takes the Arrow staging path."""
    import pyarrow.parquet as pq

    src = str(tmp_path / "in")
    spark.createDataFrame(inject_dirty_rows(small_pdf), schema=TRANSCRIPT_SCHEMA).write.parquet(src)
    pipe = RollupPipeline(str(tmp_path / "wh"), CFG)
    before = set(_executions(spark))
    report = pipe.run(spark, spark.read.parquet(src), batch_id="once", mode="append")
    ran = {e: _nodes_that_ran(spark, e) for e in _executions(spark) if e not in before}
    assert report.n_rejected == 6 and len(ran) >= 2, ran
    dedup = re.compile(r"hashpartitioning\(conv_id#\d+, turn_idx#\d+,")
    scans = [e for e, nodes in ran.items() if any(n.startswith("Scan parquet") for n, _ in nodes)]
    shuffles = [e for e, nodes in ran.items() if any(dedup.search(d) for n, d in nodes if n == "Exchange")]
    assert len(scans) == 1 and shuffles == scans, ran
    for name, t in pipe.tables.items():
        for f in t.files():
            writer = pq.read_metadata(os.path.join(t.data_dir, f)).created_by
            assert writer.startswith("parquet-cpp-arrow"), (name, writer)


def _cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


CACHE_CASES = ["first", "acked", "unitless", "timeout"] + [
    f"fail:{t}" for t in ("rollup_tiers", "dead_letter", "lineage", "job_metrics")
]


@pytest.mark.parametrize("case", CACHE_CASES)
def test_no_cache_outlives_a_batch(spark, tmp_path, small_pdf, case):
    """``run`` caches the tagged delivery and drops it on every exit: a
    committed first delivery, an acked redelivery, a unit-less delivery,
    a crash after each table's commit and a commit timeout.  Each case
    shifts its input's timestamps, so that a cache another case left
    behind cannot stand in for its own (Spark caches by plan)."""
    from mq_to_db_spark.plans.bounds import QueryTimeoutError
    from mq_to_db_spark.sources.tableio import TableIO

    class SlowTableIO(TableIO):
        def append(self, df, summary=None):
            slow = df.mapInPandas(lambda it: (time.sleep(20) or pdf for pdf in it), df.schema)
            return super().append(slow, summary)

    def factory(name, part=None):
        cls = SlowTableIO if case == "timeout" and name == "rollup_tiers" else TableIO
        return cls(str(tmp_path / "wh" / name), part)

    cfg = EngineConfig(conv_buckets=8, max_query_timeout_sec=2.0 if case == "timeout" else None)
    pipe = RollupPipeline(str(tmp_path / "wh"), cfg, table_factory=factory)
    pdf = inject_dirty_rows(small_pdf)
    if case == "unitless":
        pdf = small_pdf.head(3).copy()
        pdf["ts"] = None
    pdf["ts"] = pdf["ts"] + pd.Timedelta(seconds=CACHE_CASES.index(case))
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    before = _cached_entries(spark)
    if case == "timeout":
        with pytest.raises(QueryTimeoutError):
            pipe.run(spark, df, batch_id="b", mode="append")
    elif case.startswith("fail:"):
        with pytest.raises(RuntimeError, match="injected failure"):
            pipe.run(spark, df, batch_id="b", fail_after_commit_of=case[5:])
    else:
        pipe.run(spark, df, batch_id="b", mode="append")
        if case == "acked":
            assert _cached_entries(spark) == before
            replay = pipe.run(spark, df, batch_id="b", mode="append")
            assert replay.n_units_skipped == replay.n_units_total > 0
    assert _cached_entries(spark) == before
