"""Physical-plan regression tests: the plan shapes the engine depends on
at 100 TB must actually materialize — predicate pushdown to the parquet
scan, column pruning, partition pruning on TableIO reads, broadcast for
the gap-fill grid join, whole-stage codegen on the rollup path, and no
Python (BatchEvalPython) anywhere outside the two codec UDF families."""

import pytest
from pyspark.sql import functions as F

from mq_to_db_spark.operators.gapfill import gapfill
from mq_to_db_spark.operators.rollup import rollup_from_raw, rollup_tiers

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _explain_formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    q = ev.filter(F.col("event_type") == "click").select("event_id")
    plan = _explain_formatted(q)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in plan


def test_column_pruning(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    q = ev.groupBy("event_type").count()
    plan = _explain_formatted(q)
    # only event_type read from a 6-column table
    assert "ReadSchema: struct<event_type:string>" in plan


def test_rollup_runs_whole_stage_codegen(spark, transcripts):
    df = rollup_from_raw(transcripts, "1m", ["conv_id"])
    plan = _plan(df)
    assert "BatchEvalPython" not in plan  # no Python on the rollup path
    # partial + final hash agg with an exchange between (map-side combine)
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan and "Exchange hashpartitioning" in plan
    # whole-stage codegen compiles the agg pipeline (AQE prints it only in
    # codegen-mode explain before execution)
    codegen = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    assert "WholeStageCodegen subtree" in codegen


def test_gapfill_grid_join_is_broadcast(spark, transcripts):
    r = rollup_from_raw(transcripts, "1h")
    plan = _plan(gapfill(r, "1h", ["role"] if "role" in r.columns else []))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_cascade_reuses_partials_no_extra_scan(spark, transcripts):
    tiers = rollup_tiers(transcripts, keys=[])
    plan = _plan(tiers["1d"])
    # the 1d plan contains exactly one scan of the input (cascade reads
    # raw once through the 1m/1h partials, never re-scans per tier)
    assert plan.count("Scan ExistingRDD") + plan.count("Scan parquet") <= 1


def test_tableio_partition_pruning(spark, tmp_path):
    from mq_to_db_spark.sources.tableio import TableIO

    t = TableIO(str(tmp_path / "t"), partition_cols=["date", "conv_bucket"])
    df = (
        spark.range(100)
        .withColumn("date", F.lit("2025-01-01"))
        .withColumn("conv_bucket", (F.col("id") % 4).cast("int"))
    )
    t.overwrite_partitions(df)
    q = t.read(spark).filter("conv_bucket = 2")
    plan = _explain_formatted(q)
    assert "PartitionFilters" in plan and "conv_bucket" in plan


def test_knn_join_broadcasts_small_side(spark):
    from mq_to_db_spark.operators.similarity import knn_join_brute

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    left = emb.limit(5).select(F.col("vec_id").alias("id_l"), "embedding")
    right = emb.select(F.col("vec_id").alias("id_r"), "embedding")
    plan = _plan(knn_join_brute(left, right, k=2))
    assert "BroadcastNestedLoopJoin" in plan


def test_pipeline_semi_join_broadcasts_todo_units(spark, transcripts, tmp_path):
    """The committed-unit pruning join must broadcast the (tiny) todo list,
    never shuffle the raw input for it."""
    from mq_to_db_spark.config import EngineConfig
    from mq_to_db_spark.operators.validate import with_reject_reason
    from mq_to_db_spark.plans.pipeline import unit_cols

    tagged = unit_cols(with_reject_reason(transcripts), 8)
    todo = spark.createDataFrame([(1, "2025-01-01")], "conv_bucket int, date string").withColumn(
        "date", F.to_date("date")
    )
    j = tagged.join(F.broadcast(todo), ["conv_bucket", "date"], "left_semi")
    assert "BroadcastHashJoin" in _plan(j)


def test_multidim_single_expand_single_scan(spark, transcripts):
    """rollup_multidim must plan as ONE input scan + ONE Expand (grouping
    sets) + partial/final hash agg — not one scan per dimension or tier —
    and no Python anywhere."""
    from mq_to_db_spark.operators.rollup import rollup_multidim

    dims = {"global": [], "conv": ["conv_id"], "tool": ["tool"]}
    def n_scans(plan: str) -> int:
        # max per kind: a cached input prints InMemoryTableScan plus its
        # nested cached-child plan (one LocalTableScan) — one logical scan
        return max(
            plan.count(s)
            for s in ("Scan ExistingRDD", "Scan parquet", "InMemoryTableScan", "LocalTableScan")
        )

    tiers = rollup_multidim(transcripts, dims)
    plan = _plan(tiers["1m"])
    assert plan.count("Expand") == 1
    assert n_scans(plan) == 1
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "BatchEvalPython" not in plan
    # every tier is a view of the one aggregation: one scan, one Expand
    # and one aggregation exchange, with no cascade stage on top
    for tier in ("1m", "1d"):
        plan = _plan(tiers[tier])
        assert n_scans(plan) == 1 and plan.count("Expand") == 1
        assert plan.count("Exchange hashpartitioning") == 1, plan
