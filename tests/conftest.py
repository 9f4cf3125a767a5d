from __future__ import annotations

import contextlib

import pandas as pd
import pytest

from mq_to_db_spark.fixtures.generator import (
    TRANSCRIPT_SCHEMA,
    generate_transcripts_pdf,
    inject_dirty_rows,
)
from mq_to_db_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mq_to_db_spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def staged_through(spark):
    """``staged_through(path)``: a context in which ``TableIO`` stages
    every commit through ``path`` — ``"arrow"`` keeps Spark's broadcast
    threshold (the tests' frames are all below it), ``"spark"`` sets it
    to -1 so Spark's writer takes every frame.  The setting is restored
    on exit."""

    @contextlib.contextmanager
    def through(path):
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        if path == "spark":
            spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return through


@pytest.fixture(scope="session")
def transcripts_pdf() -> pd.DataFrame:
    return generate_transcripts_pdf(n_turns=5000, seed=42)


@pytest.fixture(scope="session")
def transcripts(spark, transcripts_pdf):
    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    df = df.cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def dirty_pdf(transcripts_pdf) -> pd.DataFrame:
    return inject_dirty_rows(transcripts_pdf)


@pytest.fixture(scope="session")
def dirty(spark, dirty_pdf):
    return spark.createDataFrame(dirty_pdf, schema=TRANSCRIPT_SCHEMA)


def assert_pdf_equal(actual: pd.DataFrame, expected: pd.DataFrame, sort_cols, **kw):
    a = actual.sort_values(sort_cols, ignore_index=True)[sorted(actual.columns)]
    e = expected.sort_values(sort_cols, ignore_index=True)[sorted(expected.columns)]
    pd.testing.assert_frame_equal(a, e, check_dtype=False, check_exact=False, rtol=1e-9, **kw)
