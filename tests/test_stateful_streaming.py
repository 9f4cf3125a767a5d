"""Custom stateful streaming operator (applyInPandasWithState):
incremental sessionization — closed sessions match the batch islands,
state carries across micro-batches (one combined scenario: streaming-
state queries cost ~90 s each to spin up, so all assertions share two
runs)."""

import pandas as pd

from mq_to_db_spark.streaming.stateful import streaming_sessionize


def _turns(rows):
    return pd.DataFrame(
        {
            "conv_id": pd.array([r[0] for r in rows], dtype="string"),
            "turn_idx": pd.array([r[1] for r in rows], dtype="int32"),
            "role": "user",
            "text": "x",
            "tool": pd.array([None] * len(rows), dtype="string"),
            "ts": pd.to_datetime([r[2] for r in rows]).astype("datetime64[us]"),
        }
    )


def _run(spark, inp, out, ckpt):
    from mq_to_db_spark.streaming.stream import read_transcript_stream

    stream = read_transcript_stream(spark, str(inp))
    q = (
        streaming_sessionize(stream, gap="5 minutes")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)  # NoTimeout + availableNow terminates


def test_streaming_sessionize_state_and_islands(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"

    # batch 1:
    #   c1 — two turns 1 min apart (stays open)
    #   c2 — two islands inside ONE batch (gap > 5 min)
    #   c3 — single turn (stays open)
    _turns(
        [
            ("c1", 0, "2025-01-01 00:00:00"),
            ("c1", 1, "2025-01-01 00:01:00"),
            ("c2", 0, "2025-01-01 01:00:00"),
            ("c2", 1, "2025-01-01 01:02:00"),
            ("c2", 2, "2025-01-01 01:30:00"),
            ("c3", 0, "2025-01-01 01:00:00"),
        ]
    ).to_parquet(inp / "f1.parquet", index=False)
    _run(spark, inp, out, ckpt)

    got1 = spark.read.parquet(str(out)).toPandas()
    # c2's first island closed within the batch; open sessions not emitted
    c2_closed = got1[(got1.conv_id == "c2") & (got1.closed_by == "gap")]
    assert len(c2_closed) == 1 and c2_closed.iloc[0].n_turns == 2
    assert (got1.conv_id == "c1").sum() == 0
    assert (got1.conv_id == "c3").sum() == 0

    # batch 2 (separate query run, same checkpoint): a c1 turn 30 min
    # later — closes c1's first session from state carried across runs
    _turns([("c1", 2, "2025-01-01 00:31:00")]).to_parquet(
        inp / "f2.parquet", index=False
    )
    _run(spark, inp, out, ckpt)

    got2 = spark.read.parquet(str(out)).toPandas()
    c1_closed = got2[(got2.conv_id == "c1") & (got2.closed_by == "gap")]
    assert len(c1_closed) == 1
    s = c1_closed.iloc[0]
    assert s.session_start == pd.Timestamp("2025-01-01 00:00:00")
    assert s.session_end == pd.Timestamp("2025-01-01 00:01:00")
    assert s.n_turns == 2


def test_fold_timeout_branch_flushes_open_session():
    """The flush-on-idle branch, unit-tested with a stub GroupState (a
    query with registered processing-time timeouts does not self-
    terminate under availableNow, so the branch is exercised here)."""
    from mq_to_db_spark.streaming.stateful import _fold_sessions

    class StubState:
        hasTimedOut = True
        exists = True
        get = (1_000_000, 2_000_000, 5)
        removed = False

        def remove(self):
            self.removed = True

    st = StubState()
    out = list(_fold_sessions(("c9",), iter([]), st, gap_us=60_000_000))
    assert st.removed
    assert len(out) == 1
    row = out[0].iloc[0]
    assert row.closed_by == "timeout" and row.n_turns == 5
    assert row.session_start == pd.Timestamp("1970-01-01 00:00:01")
    assert row.session_end == pd.Timestamp("1970-01-01 00:00:02")


def test_gap_parsing_accepts_spark_interval_vocab(spark):
    """Gaps are the engine's fixed-width '<n> <unit>' durations
    (timegrid.duration_us): '1 day' parses; garbage, a unit glued to its
    count ('90s'), a compound span or a zero gap raises a clear
    ValueError."""
    import pytest

    from mq_to_db_spark.streaming.stateful import streaming_sessionize

    stream = spark.readStream.schema(
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).parquet("/root/testdata/sf0.001")  # never started; plan-build only
    streaming_sessionize(stream, gap="1 day")  # no KeyError
    for bad in ("not-a-gap", "90s", "1 hour 30 minutes", "0 minutes"):
        with pytest.raises(ValueError, match="unparseable gap"):
            streaming_sessionize(stream, gap=bad)


def test_alert_for_duration_parsing(spark, tmp_path):
    """streaming_alerts' hold is a duration of the same vocabulary:
    '5 minutes' parses, '90s' and a zero hold raise."""
    import pytest

    from mq_to_db_spark.streaming.stateful import streaming_alerts

    # never started; plan-build only
    stream = spark.readStream.schema("series string, ts timestamp, v long").parquet(str(tmp_path))
    streaming_alerts(stream, threshold=10, for_duration="5 minutes")
    for bad in ("90s", "0 seconds"):
        with pytest.raises(ValueError, match="unparseable for_duration"):
            streaming_alerts(stream, threshold=10, for_duration=bad)
