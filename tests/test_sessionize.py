"""Sessionization: island detection vs pandas oracle."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from mq_to_db_spark.operators.sessionize import sessionize, with_session_id
from tests.conftest import assert_pdf_equal

GAP_SEC = 300  # "5 minutes"


def _pandas_sessions(pdf: pd.DataFrame) -> pd.DataFrame:
    p = pdf.sort_values(["conv_id", "ts", "turn_idx"])
    out = []
    for conv, g in p.groupby("conv_id"):
        gaps = g["ts"].diff().dt.total_seconds().fillna(0)
        sid = (gaps > GAP_SEC).cumsum()
        s = g.assign(session_id=sid).groupby("session_id")
        for sess_id, gg in s:
            out.append(
                {
                    "conv_id": conv,
                    "session_id": int(sess_id),
                    "session_start": gg["ts"].min(),
                    "session_end": gg["ts"].max(),
                    "n_turns": len(gg),
                    "duration_sec": (gg["ts"].max() - gg["ts"].min()).total_seconds(),
                }
            )
    return pd.DataFrame(out)


def test_sessionize_matches_pandas_oracle(spark, transcripts, transcripts_pdf):
    got = sessionize(transcripts, gap="5 minutes").toPandas()
    want = _pandas_sessions(transcripts_pdf)
    assert_pdf_equal(got, want, ["conv_id", "session_id"])


def test_session_id_monotone_and_dense(spark, transcripts):
    tagged = with_session_id(transcripts, gap="5 minutes")
    per_conv = tagged.groupBy("conv_id").agg(
        F.max("session_id").alias("mx"),
        F.count_distinct("session_id").alias("nd"),
    )
    # dense 0..mx numbering per conversation
    assert per_conv.filter(F.col("nd") != F.col("mx") + 1).count() == 0
