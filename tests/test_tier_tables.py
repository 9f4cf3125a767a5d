"""One rollup table for every tier (plans/pipeline.py): every tier's and
dimension's series share ``rollup_tiers``, partitioned by ``(tier, dim,
date, conv_bucket)``, so a micro-batch commits it once, a refresh
rewrites it in one ``overwrite_where``, a retention pass drops from it
in one ``delete_partitions``, and a read prunes to its own ``tier`` and
``dim`` partitions.  The Spark job counts of a first-delivery
micro-batch and of a refresh are pinned, so a stray action on the ack
path shows up here."""

import datetime as dt
import os
from collections import Counter
from urllib.parse import unquote, urlparse

import pytest

from mq_to_db_spark.config import EngineConfig
from mq_to_db_spark.fixtures.generator import (
    TRANSCRIPT_SCHEMA,
    generate_transcripts_pdf,
    inject_dirty_rows,
)
from mq_to_db_spark.plans.pipeline import RollupPipeline
from mq_to_db_spark.sources.tableio import partition_values

CFG = EngineConfig(conv_buckets=4)


def _versions(pipe):
    return {name: t.current_version() for name, t in pipe.tables.items()}


def _job_descriptions(spark, fn) -> list[str]:
    """Run ``fn`` in its own job group; the descriptions of the Spark
    jobs it started (Spark's own listing job describes itself as
    "Listing leaf files and directories for N paths")."""
    sc = spark.sparkContext
    group = f"jobs-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    store = sc._jsc.sc().statusStore()
    descs = [store.job(j).description() for j in sc.statusTracker().getJobIdsForGroup(group)]
    return [d.get() if d.isDefined() else "" for d in descs]


def _append(spark, pipe, pdf, batch_id):
    df = spark.createDataFrame(inject_dirty_rows(pdf), schema=TRANSCRIPT_SCHEMA)
    return _job_descriptions(spark, lambda: pipe.run(spark, df, batch_id=batch_id, mode="append"))


def _two_batches(spark, root):
    """A pipeline after two dirty append micro-batches, the table
    versions between them, and the first batch's Spark jobs."""
    pdf = generate_transcripts_pdf(1200, seed=21)
    half = len(pdf) // 2
    pipe = RollupPipeline(str(root / "wh"), CFG)
    first_jobs = _append(spark, pipe, pdf.iloc[:half], "s-0")
    between = _versions(pipe)
    _append(spark, pipe, pdf.iloc[half:], "s-1")
    return pipe, between, first_jobs


@pytest.fixture(scope="module")
def appended(spark, tmp_path_factory):
    return _two_batches(spark, tmp_path_factory.mktemp("tiers"))


@pytest.fixture()
def fresh(spark, tmp_path):
    """A pipeline of its own, for a test that commits to it."""
    return _two_batches(spark, tmp_path)[0]


def _files(pipe) -> list[dict[str, str]]:
    return [partition_values(f) for f in pipe.rollup.snapshot().all_files]


def _scan_num_files(df) -> int:
    """The file scan's post-pruning ``numFiles`` metric, looking through
    AQE's wrapper and query stages."""
    df.collect()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "FileSourceScanExec":
            return node.metrics().apply("numFiles").value()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    raise AssertionError("no file scan in the plan")


def _has_aggregate(df) -> bool:
    return "Aggregate" in df._jdf.queryExecution().executedPlan().toString()


def test_append_batch_adds_one_snapshot_per_table(appended):
    pipe, between, _ = appended
    assert sorted(pipe.tables) == ["dead_letter", "job_metrics", "lineage", "rollup_tiers"]
    after = _versions(pipe)
    assert {n: after[n] - between[n] for n in after} == {n: 1 for n in after}


def test_first_delivery_adds_one_file_per_side_table(appended):
    """A micro-batch's dead-letter, lineage and metrics rows are each
    staged as one file, not one per task of the frame's plan."""
    pipe, _, _ = appended
    for name in ("dead_letter", "lineage", "job_metrics"):
        assert len(pipe.tables[name].snapshot(1).added_files) == 1, name


def test_rollup_table_holds_every_tier_and_dimension(appended):
    pipe, _, _ = appended
    held = {(pv["tier"], pv["dim"]) for pv in _files(pipe)}
    assert held == {(t, d) for t in ("1m", "1h", "1d") for d in ("global", "conv", "tool")}


def test_first_delivery_append_job_count(appended):
    # the unit-stats collect (which fills the tagged delivery's cache)
    # plus the rollup and dead-letter writes, each over the cache; the
    # lineage and metrics rows are written from the driver with no job
    *_, first_jobs = appended
    assert len(first_jobs) == 7, first_jobs


def test_refresh_is_one_overwrite_where(spark, fresh):
    pipe = fresh
    assert len(pipe.rollup.snapshot().all_files) > 32
    before = _versions(pipe)
    inv = {}
    jobs = _job_descriptions(spark, lambda: inv.update(pipe.refresh_invalidated(spark)))
    # the read hands Spark more manifest-listed files than the default
    # parallel-listing threshold (32): still no listing job
    assert not [d for d in jobs if d.startswith("Listing")], jobs
    # the manifest carries the table's schema, so the read runs no
    # parquet schema-inference job
    assert len(jobs) == 2, jobs
    assert sorted(inv) == ["1d", "1h", "1m"]
    after = _versions(pipe)
    assert {n: after[n] - before[n] for n in after} == {
        "rollup_tiers": 1, "dead_letter": 0, "lineage": 0, "job_metrics": 0
    }
    assert pipe.rollup.snapshot().operation == "overwrite_where"


def test_retention_per_tier_is_one_drop_of_the_reported_files(fresh):
    pipe = fresh
    as_of = max(dt.date.fromisoformat(pv["date"]) for pv in _files(pipe))
    policies = {"1m": 1, "1h": 2}
    report = pipe.retention_report(policies, as_of)
    assert all(report[t]["n_files"] > 0 for t in policies), report
    v = pipe.rollup.current_version()
    removed = pipe.apply_retention(policies, as_of)
    snap = pipe.rollup.snapshot()
    assert snap.version == v + 1 and snap.operation == "delete_partitions"
    dropped = [partition_values(f) for f in snap.removed_files]
    assert removed == {t: r["n_files"] for t, r in report.items()}
    assert Counter(pv["tier"] for pv in dropped) == removed
    for t, r in report.items():
        assert sorted({pv["date"] for pv in dropped if pv["tier"] == t}) == r["dates"]
        assert all(d < r["cutoff"] for d in r["dates"])
    # the 1d tier has no policy: it keeps every file
    assert not [pv for pv in dropped if pv["tier"] == "1d"]


def test_finalize_coarse_tiers_leaves_fine_tier_merging(spark, fresh):
    pipe = fresh
    fine = sorted(f for f in pipe.rollup.snapshot().all_files if f.startswith("tier=1m"))
    pipe.finalize(spark, tiers=["1h", "1d"])
    snap = pipe.rollup.snapshot()
    assert snap.operation == "overwrite_where"
    assert sorted(f for f in snap.all_files if f.startswith("tier=1m")) == fine
    assert not _has_aggregate(pipe.read_rollup(spark, "global", "1h"))
    assert _has_aggregate(pipe.read_rollup(spark, "global", "1m"))


def test_dimension_read_prunes_dim_partition(spark, appended):
    pipe, _, _ = appended
    files = _files(pipe)
    n_global_1h = sum(pv["tier"] == "1h" and pv["dim"] == "global" for pv in files)
    n_read = _scan_num_files(pipe.read_rollup(spark, "global", "1h"))
    assert 0 < n_read == n_global_1h < len(files), (n_read, n_global_1h, len(files))


def test_tier_read_hands_spark_only_its_own_files(spark, appended):
    pipe, _, _ = appended
    snap = pipe.rollup.snapshot()
    want = {f for f in snap.all_files if f.startswith("tier=1h/dim=global/")}
    got = {
        os.path.relpath(unquote(urlparse(u).path), pipe.rollup.data_dir)
        for u in pipe.read_rollup(spark, "global", "1h").inputFiles()
    }
    assert want and got == want, (len(got), len(want), len(snap.all_files))
