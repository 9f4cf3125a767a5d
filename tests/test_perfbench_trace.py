"""Guard for the benchmark's traced mode (``perfbench/run.py --trace 1``):
``perfbench/spans.py`` wraps engine entry points by name and its
post-hooks read engine attributes (``RollupPipeline.markers``,
``TableIO.path`` / ``data_dir``, snapshot files).  An engine change that
renames a wrapped entry point, or breaks what a hook reads, fails here
instead of only in a traced benchmark run."""

import importlib.util
import pathlib

import pytest

from mq_to_db_spark.config import EngineConfig
from mq_to_db_spark.fixtures.generator import (
    TRANSCRIPT_SCHEMA,
    generate_transcripts_pdf,
    inject_dirty_rows,
)
from mq_to_db_spark.plans.pipeline import RollupPipeline

SPANS_PY = pathlib.Path(__file__).resolve().parents[1] / "perfbench" / "spans.py"


@pytest.fixture(scope="module")
def spans():
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS_PY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_traced_mode_hooks_run_on_every_pipeline_path(spark, tmp_path, spans):
    _check_hooks_on_every_pipeline_path(spark, tmp_path, spans)


def test_traced_mode_hooks_run_on_sparks_writer(spark, tmp_path, spans, staged_through):
    """The same with every commit staged by Spark's writer (frames above
    the broadcast threshold): ``count_added`` reads the footers of the
    files either staging path wrote."""
    with staged_through("spark"):
        _check_hooks_on_every_pipeline_path(spark, tmp_path, spans)


def _check_hooks_on_every_pipeline_path(spark, tmp_path, spans):
    df = spark.createDataFrame(
        inject_dirty_rows(generate_transcripts_pdf(300, seed=9)), schema=TRANSCRIPT_SCHEMA
    )
    tracer = spans.Tracer(spark.sparkContext)
    uninstall = spans.install(tracer)
    try:
        append = RollupPipeline(str(tmp_path / "append"), EngineConfig(conv_buckets=4))
        append.run(spark, df, batch_id="mb0", mode="append")
        append.refresh_invalidated(spark)
        over = RollupPipeline(str(tmp_path / "overwrite"), EngineConfig(conv_buckets=4))
        over.run(spark, df, batch_id="bulk", mode="overwrite")
    finally:
        uninstall()
    # every call above returned, so no post-hook raised; each hook left
    # its mark
    names = {s["name"] for s in tracer.spans}
    assert {
        "pipeline.run",
        "pipeline.committed_units",
        "pipeline.refresh_invalidated",
        "pipeline.invalidated_dates",
        "pipeline.finalize",
        "tableio.append",
        "tableio.overwrite_partitions",
        "tableio.overwrite_where",
        "tableio.read",
        "store.write_text_atomic",
    } <= names
    assert all("t1" in s for s in tracer.spans) and not tracer.stack
    rollup = [s for s in tracer.spans if s["name"] == "tableio.append" and "rows" in s]
    assert rollup and all(s["rows"] > 0 for s in rollup)
    assert all("files" in s for s in tracer.spans if s["name"] == "tableio.read")
    assert tracer.counters["tableio.files_added"] > 0
    assert tracer.counters["tableio.manifest_bytes"] > 0
    assert tracer.counters["pipeline.invalidated_dates.dates"] > 0
    # the overwrite batch listed the empty marker store before writing
    assert "pipeline.committed_units.markers_listed" in tracer.counters
    # uninstall put the engine's own functions back
    assert not hasattr(RollupPipeline.run, "__wrapped__")


def test_traced_mode_hooks_run_on_a_date_bounded_rollup_read(spark, tmp_path, spans):
    """perfbench's ``count_read_files`` post-hook reads ``TableIO.read``'s
    ``version`` argument positionally; a partition-selected read runs
    through it."""
    pdf = generate_transcripts_pdf(300, seed=9)
    pipe = RollupPipeline(str(tmp_path / "wh"), EngineConfig(conv_buckets=4))
    pipe.run(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA), batch_id="mb0", mode="append")
    day = pdf["ts"].min().date()
    tracer = spans.Tracer(spark.sparkContext)
    uninstall = spans.install(tracer)
    try:
        n = pipe.read_rollup(spark, "global", "1h", start_date=day, end_date=day).count()
    finally:
        uninstall()
    assert n > 0
    reads = [s for s in tracer.spans if s["name"] == "tableio.read"]
    assert reads and all(s["files"] > 0 for s in reads)
    assert "pipeline.read_rollup" in {s["name"] for s in tracer.spans}
