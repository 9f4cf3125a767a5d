"""Continuous-aggregate invalidation + incremental refresh
(plans/pipeline.py invalidated_dates / refresh_invalidated): the dirty
set is derived from the snapshot log alone (Iceberg-style incremental
scan), refresh touches only invalidated dates, equals a from-scratch
recompute, is idempotent, and is NOT spooked by compaction."""

import os
from urllib.parse import unquote, urlparse

import pandas as pd

from mq_to_db_spark.config import EngineConfig
from mq_to_db_spark.fixtures.generator import (
    TRANSCRIPT_SCHEMA,
    generate_transcripts_pdf,
)
from mq_to_db_spark.plans.pipeline import RollupPipeline

CFG = EngineConfig(conv_buckets=4)


def _read(pipe, spark, dim="global", tier="1h"):
    pdf = pipe.read_rollup(spark, dim, tier).toPandas()
    return pdf.sort_values(list(pdf.columns)[:2], ignore_index=True)


def _split_by_date(pdf):
    """(early rows, late rows touching only the max date, full)."""
    dates = pdf["ts"].dt.date
    last = dates.max()
    late = pdf[(dates == last)].iloc[::2]  # half the last day arrives late
    early = pdf.drop(late.index)
    return early, late


def test_invalidation_tracks_only_late_dates_and_refresh_is_exact(
    spark, tmp_path
):
    pdf = generate_transcripts_pdf(3000, seed=7)
    early, late = _split_by_date(pdf)
    last_day = str(pdf["ts"].dt.date.max())

    pipe = RollupPipeline(str(tmp_path / "wh"), CFG)
    pipe.run(spark, spark.createDataFrame(early, schema=TRANSCRIPT_SCHEMA),
             batch_id="b-0", mode="append")
    pipe.finalize(spark)  # full finalize = global watermark
    assert pipe.invalidated_dates() == {}

    # late data lands for the already-finalized last day only
    pipe.run(spark, spark.createDataFrame(late, schema=TRANSCRIPT_SCHEMA),
             batch_id="b-late", mode="append")
    inv = pipe.invalidated_dates()
    assert inv, "late append must invalidate"
    for name, dates in inv.items():
        assert dates == [last_day], (name, dates)

    refreshed = pipe.refresh_invalidated(spark)
    assert refreshed == inv
    assert pipe.invalidated_dates() == {}

    # refreshed caggs == from-scratch recompute over all raw data
    ref = RollupPipeline(str(tmp_path / "wh2"), CFG)
    ref.run(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA),
            batch_id="oracle")
    for dim, tier in (("global", "1m"), ("global", "1h"), ("conv", "1d"),
                      ("tool", "1h")):
        pd.testing.assert_frame_equal(
            _read(pipe, spark, dim, tier), _read(ref, spark, dim, tier),
            check_dtype=False,
        )


def test_refresh_idempotent_and_compaction_not_invalidating(spark, tmp_path):
    pdf = generate_transcripts_pdf(1500, seed=11)
    half = len(pdf) // 2
    pipe = RollupPipeline(str(tmp_path / "wh"), CFG)
    pipe.run(spark, spark.createDataFrame(pdf.iloc[:half], schema=TRANSCRIPT_SCHEMA),
             batch_id="b-0", mode="append")
    pipe.run(spark, spark.createDataFrame(pdf.iloc[half:], schema=TRANSCRIPT_SCHEMA),
             batch_id="b-1", mode="append")

    # never finalized → every held date is dirty (first refresh
    # materializes everything — the TimescaleDB first-refresh semantic)
    inv = pipe.invalidated_dates()
    all_dates = sorted({str(d) for d in pdf["ts"].dt.date.unique()})
    assert inv["1h"] == all_dates

    assert pipe.refresh_invalidated(spark) == inv
    assert pipe.refresh_invalidated(spark) == {}  # second pass: no-op

    # compaction moves bytes, not rows — must not re-invalidate
    pipe.compact(spark, min_files=2)
    assert pipe.invalidated_dates() == {}

    ref = RollupPipeline(str(tmp_path / "wh2"), CFG)
    ref.run(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA),
            batch_id="oracle")
    pd.testing.assert_frame_equal(
        _read(pipe, spark), _read(ref, spark), check_dtype=False
    )


def test_refresh_reads_exactly_the_files_it_replaces(spark, tmp_path, monkeypatch):
    """finalize states its region once: the files its read hands Spark
    are the files its overwrite_where removes, a strict subset of the
    table when late data dirtied one date."""
    pdf = generate_transcripts_pdf(1500, seed=7)
    early, late = _split_by_date(pdf)
    pipe = RollupPipeline(str(tmp_path / "wh"), CFG)
    pipe.run(spark, spark.createDataFrame(early, schema=TRANSCRIPT_SCHEMA),
             batch_id="b-0", mode="append")
    pipe.refresh_invalidated(spark)
    pipe.run(spark, spark.createDataFrame(late, schema=TRANSCRIPT_SCHEMA),
             batch_id="b-late", mode="append")
    before = pipe.rollup.snapshot()

    tbl, read, handed = pipe.rollup, pipe.rollup.read, []

    def spy(*args, **kwargs):
        df = read(*args, **kwargs)
        handed.extend(
            os.path.relpath(unquote(urlparse(u).path), tbl.data_dir) for u in df.inputFiles()
        )
        return df

    monkeypatch.setattr(tbl, "read", spy)
    pipe.refresh_invalidated(spark)
    snap = tbl.snapshot()
    assert snap.operation == "overwrite_where"
    assert sorted(handed) == sorted(snap.removed_files)
    assert 0 < len(snap.removed_files) < len(before.all_files)
