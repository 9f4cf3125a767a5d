"""One table per tier (plans/pipeline.py): every dimension's series share
``rollup_{tier}``, partitioned by ``(dim, date, conv_bucket)``, so a
micro-batch commits each table once, a refresh rewrites each tier table
once, and a dimension read prunes to its own ``dim`` partition."""

import pytest

from mq_to_db_spark.config import EngineConfig
from mq_to_db_spark.fixtures.generator import (
    TRANSCRIPT_SCHEMA,
    generate_transcripts_pdf,
    inject_dirty_rows,
)
from mq_to_db_spark.plans.pipeline import RollupPipeline
from mq_to_db_spark.sources.tableio import partition_values

CFG = EngineConfig(conv_buckets=4, shuffle_partitions=4)
TIER_TABLES = ["rollup_1m", "rollup_1h", "rollup_1d"]


def _all_tables(pipe):
    return {
        **pipe.tables,
        "dead_letter": pipe.dead_letter,
        "lineage": pipe.lineage,
        "job_metrics": pipe.metrics,
    }


def _versions(pipe):
    return {name: t.current_version() for name, t in _all_tables(pipe).items()}


def _append(spark, pipe, pdf, batch_id):
    df = spark.createDataFrame(inject_dirty_rows(pdf), schema=TRANSCRIPT_SCHEMA)
    pipe.run(spark, df, batch_id=batch_id, mode="append")


def _two_batches(spark, root):
    """A pipeline after two dirty append micro-batches, and the table
    versions between them."""
    pdf = generate_transcripts_pdf(1200, seed=21)
    half = len(pdf) // 2
    pipe = RollupPipeline(str(root / "wh"), CFG)
    _append(spark, pipe, pdf.iloc[:half], "s-0")
    between = _versions(pipe)
    _append(spark, pipe, pdf.iloc[half:], "s-1")
    return pipe, between


@pytest.fixture(scope="module")
def appended(spark, tmp_path_factory):
    return _two_batches(spark, tmp_path_factory.mktemp("tiers"))


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


def test_append_batch_adds_one_snapshot_per_table(appended):
    pipe, between = appended
    assert sorted(pipe.tables) == sorted(TIER_TABLES)
    assert len(_all_tables(pipe)) == 6
    after = _versions(pipe)
    assert {n: after[n] - between[n] for n in after} == {n: 1 for n in after}
    # every dimension's rows live in the one tier table
    for name in TIER_TABLES:
        dims = {partition_values(f)["dim"] for f in pipe.tables[name].snapshot().all_files}
        assert dims == {"global", "conv", "tool"}, (name, dims)


def test_refresh_rewrites_each_tier_table_once(spark, tmp_path):
    pipe, _ = _two_batches(spark, tmp_path)
    before = _versions(pipe)
    inv = pipe.refresh_invalidated(spark)
    assert sorted(inv) == sorted(TIER_TABLES)
    after = _versions(pipe)
    for name, v in after.items():
        if name in TIER_TABLES:
            assert v - before[name] == 1, name
            assert pipe.tables[name].snapshot().operation == "overwrite_where"
        else:
            assert v == before[name], name


def test_dimension_read_prunes_dim_partition(spark, appended):
    pipe, _ = appended
    files = pipe.tables["rollup_1h"].snapshot().all_files
    n_global = sum(partition_values(f)["dim"] == "global" for f in files)
    n_read = _scan_num_files(pipe.read_rollup(spark, "global", "1h"))
    assert 0 < n_read == n_global < len(files), (n_read, n_global, len(files))
