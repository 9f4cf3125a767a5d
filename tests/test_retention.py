"""Tiered retention + vacuum (the "retention" third of
rollup + downsample + retention): metadata-only partition expiry per
tier, coarser tiers outliving finer ones, snapshot semantics preserved."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mq_to_db_spark.config import EngineConfig
from mq_to_db_spark.plans.pipeline import RollupPipeline
from mq_to_db_spark.sources.tableio import TableIO, partition_values

CFG = EngineConfig(conv_buckets=8)


def test_partition_values():
    assert partition_values("date=2025-01-03/conv_bucket=7/p-0.parquet") == {
        "date": "2025-01-03",
        "conv_bucket": "7",
    }
    assert partition_values("p-0.parquet") == {}


@pytest.fixture()
def pipe(tmp_path, spark, transcripts):
    p = RollupPipeline(str(tmp_path / "wh"), CFG)
    p.run(spark, transcripts, batch_id="b1")
    return p


def test_tiered_retention_expires_fine_keeps_coarse(spark, transcripts, pipe):
    dates = sorted(
        r.d for r in transcripts.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    assert len(dates) >= 3
    as_of = dates[-1]
    keep_days = (as_of - dates[1]).days  # cut the oldest date only
    before_1m = pipe.read_rollup(spark, "global", "1m").count()
    expired = pipe.apply_retention({"1m": keep_days}, as_of=as_of)
    assert expired["1m"] > 0

    # 1m tier no longer holds buckets before the cutoff...
    cutoff = as_of - dt.timedelta(days=keep_days)
    m1 = pipe.read_rollup(spark, "global", "1m")
    assert m1.filter(F.to_date("bucket_start") < F.lit(cutoff)).count() == 0
    assert m1.count() < before_1m
    # ...while the coarser 1h tier still has the full history
    h1 = pipe.read_rollup(spark, "global", "1h")
    assert h1.filter(F.to_date("bucket_start") < F.lit(cutoff)).count() > 0


def test_retention_is_metadata_only_then_vacuum_reclaims(spark, transcripts, pipe):
    tbl = pipe.rollup
    v_before = tbl.current_version()
    files_before = set(tbl.snapshot().all_files)
    as_of = max(
        r.d for r in transcripts.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    pipe.apply_retention({"1m": 1}, as_of=as_of)

    # new snapshot, fewer referenced files, but old bytes still on disk —
    # a reader pinned to the old snapshot still works (time travel)
    assert tbl.current_version() == v_before + 1
    assert set(tbl.snapshot().all_files) < files_before
    old = tbl.read(spark, version=v_before).filter("dim = 'global'")
    assert old.count() > tbl.read(spark).filter("dim = 'global'").count()

    n_current_before_vacuum = tbl.read(spark).filter("dim = 'global'").count()
    deleted = tbl.vacuum(keep_versions=1)
    assert len(deleted) > 0
    import os

    assert all(not os.path.exists(os.path.join(tbl.data_dir, f)) for f in deleted)
    # current snapshot unaffected by vacuum
    assert tbl.read(spark).filter("dim = 'global'").count() == n_current_before_vacuum


def test_retention_that_expires_nothing_commits_nothing(spark, transcripts, pipe):
    """A pass whose cutoff precedes every date drops no file: it returns
    zeros and leaves the table at its current snapshot."""
    as_of = max(
        r.d for r in transcripts.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    v = pipe.rollup.current_version()
    assert pipe.apply_retention({"1m": 3650, "1d": 3650}, as_of=as_of) == {"1m": 0, "1d": 0}
    assert pipe.rollup.current_version() == v


def test_retention_unknown_tier_raises(pipe):
    with pytest.raises(ValueError):
        pipe.apply_retention({"5s": 1}, as_of=dt.date(2025, 1, 1))


def test_retention_report_is_exact_dry_run(spark, transcripts, pipe):
    """The report names exactly the files apply_retention then removes,
    and itself commits nothing (current_version unchanged)."""
    policies = {"1m": 2, "1h": 4}
    dates = [r[0] for r in pipe.rollup.read(spark)
             .filter("tier = '1m' AND dim = 'global'").select(F.to_date("bucket_start")).distinct().collect()]
    as_of = max(dates)

    v_before = pipe.rollup.current_version()
    rep = pipe.retention_report(policies, as_of=as_of)
    assert pipe.rollup.current_version() == v_before

    # same cutoffs, some files doomed at the fine tier
    assert rep["1m"]["cutoff"] == (
        as_of - dt.timedelta(days=2)
    ).isoformat()
    assert rep["1m"]["n_files"] > 0
    assert all(d < rep["1m"]["cutoff"]
               for d in rep["1m"]["dates"])

    removed = pipe.apply_retention(policies, as_of=as_of)
    for name, meta in rep.items():
        assert removed[name] == meta["n_files"], name
