"""Generator invariants (FIXTURES.md §1): deterministic, skewed, gappy."""

import numpy as np
import pandas as pd

from mq_to_db_spark.fixtures.generator import (
    generate_transcripts_pdf,
    inject_dirty_rows,
    write_transcripts_parquet,
)


def test_deterministic():
    a = generate_transcripts_pdf(2000, seed=42)
    b = generate_transcripts_pdf(2000, seed=42)
    pd.testing.assert_frame_equal(a, b)


def test_natural_key_dense_and_ts_monotone(transcripts_pdf):
    g = transcripts_pdf.groupby("conv_id")
    assert g["turn_idx"].apply(lambda s: (s.values == np.arange(len(s))).all()).all()
    assert g["ts"].apply(lambda s: s.is_monotonic_increasing).all()
    assert not transcripts_pdf.duplicated(["conv_id", "turn_idx"]).any()


def test_skew_present(transcripts_pdf):
    sizes = transcripts_pdf.groupby("conv_id").size()
    # Zipf: hottest conversation carries >10% of all turns at this scale.
    assert sizes.max() > 0.10 * len(transcripts_pdf)


def test_dead_hours_absent(transcripts_pdf):
    hours = set(transcripts_pdf["ts"].dt.hour.unique())
    assert hours.isdisjoint({3, 4, 5})


def test_text_has_unicode_and_empties(transcripts_pdf):
    assert (transcripts_pdf["text"] == "").any()
    assert transcripts_pdf["text"].str.contains("日本語|naïve|🚀", regex=True).any()


def test_tool_only_for_tool_role(transcripts_pdf):
    assert transcripts_pdf.loc[transcripts_pdf.role != "tool", "tool"].isna().all()
    assert transcripts_pdf.loc[transcripts_pdf.role == "tool", "tool"].notna().all()


def test_dirty_rows_injected(transcripts_pdf):
    d = inject_dirty_rows(transcripts_pdf)
    assert len(d) == len(transcripts_pdf) + 6
    assert d["conv_id"].isna().any()
    assert (d["turn_idx"] < 0).any()
    assert d["ts"].isna().any()


def test_dirty_parquet_reads_back_in_spark(spark, tmp_path):
    """``dirty=True`` keeps the input's microsecond ``ts``: the file is not
    TIMESTAMP(NANOS) parquet, which Spark refuses to read."""
    path = str(tmp_path / "dirty.parquet")
    pdf = write_transcripts_parquet(path, n_turns=1000, seed=3, dirty=True)
    df = spark.read.parquet(path)
    assert df.count() == len(pdf) == 1006
    assert df.filter("ts IS NULL").count() == 1
