"""One table per tier (plans/pipeline.py): every dimension's series share
``rollup_{tier}``, partitioned by ``(dim, date, conv_bucket)``, so a
micro-batch commits each table once, a refresh rewrites each tier table
once, and a dimension read prunes to its own ``dim`` partition.  The
Spark job counts of a first-delivery micro-batch and of a refresh are
pinned, so a stray action on the ack path shows up here."""

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
    pipe, between, _ = appended
    assert sorted(pipe.tables) == sorted(TIER_TABLES)
    assert len(_all_tables(pipe)) == 6
    after = _versions(pipe)
    assert {n: after[n] - between[n] for n in after} == {n: 1 for n in after}
    # every dimension's rows live in the one tier table
    for name in TIER_TABLES:
        dims = {partition_values(f)["dim"] for f in pipe.tables[name].snapshot().all_files}
        assert dims == {"global", "conv", "tool"}, (name, dims)


def test_first_delivery_append_job_count(appended):
    # the unit-stats collect plus the tier, dead-letter, lineage and
    # metrics writes; building the driver-side frames adds no job
    *_, first_jobs = appended
    assert len(first_jobs) == 17, first_jobs


def test_refresh_rewrites_each_tier_table_once(spark, tmp_path):
    pipe, _, _ = _two_batches(spark, tmp_path)
    assert all(len(t.snapshot().all_files) > 32 for t in pipe.tables.values())
    before = _versions(pipe)
    inv = {}
    jobs = _job_descriptions(spark, lambda: inv.update(pipe.refresh_invalidated(spark)))
    # each tier's read hands Spark more manifest-listed files than the
    # default parallel-listing threshold (32): still no listing job
    assert not [d for d in jobs if d.startswith("Listing")], jobs
    assert len(jobs) == 9, jobs
    assert sorted(inv) == sorted(TIER_TABLES)
    after = _versions(pipe)
    for name, v in after.items():
        if name in TIER_TABLES:
            assert v - before[name] == 1, name
            assert pipe.tables[name].snapshot().operation == "overwrite_where"
        else:
            assert v == before[name], name


def test_dimension_read_prunes_dim_partition(spark, appended):
    pipe, _, _ = appended
    files = pipe.tables["rollup_1h"].snapshot().all_files
    n_global = sum(partition_values(f)["dim"] == "global" for f in files)
    n_read = _scan_num_files(pipe.read_rollup(spark, "global", "1h"))
    assert 0 < n_read == n_global < len(files), (n_read, n_global, len(files))
