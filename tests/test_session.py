"""SparkSession factory (session.py): settings the engine's contract
depends on are pinned, not inherited from the runtime's defaults; driver
rows enter Spark through one primitive, ``local_frame``."""

import datetime as dt

from pyspark.sql import types as T

from mq_to_db_spark.session import arrow_rows, local_frame


def test_ansi_mode_pinned(spark):
    # set explicitly by get_spark (the launch conf), and in force
    assert spark.sparkContext.getConf().get("spark.sql.ansi.enabled") == "true"
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_listing_threshold_pinned(spark):
    # TableIO reads pass manifest-listed leaf files: never list them in a job
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert spark.conf.get(key) == str(2**31 - 1)


_ROWS = [
    (1, {"a": 2}, dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 4, 5)),
    (2, None, None, None),
]
_SCHEMA = "k int, m map<string,bigint>, d date, t timestamp"


def _assert_local_frame_runs_no_job(spark, make):
    sc = spark.sparkContext
    sc.setJobGroup("local_frame", "local_frame")
    try:
        df = make()
        assert df.schema == T.StructType.fromDDL(_SCHEMA)
        got = df.selectExpr("k", "m", "d", "cast(t as string) as t").collect()
    finally:
        sc.setJobGroup("tests", "tests")
    assert sc.statusTracker().getJobIdsForGroup("local_frame") == []
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    assert [tuple(r) for r in got] == [
        (1, {"a": 2}, dt.date(2024, 1, 2), "2024-01-02 03:04:05"),
        (2, None, None, None),
    ]


def test_local_frame_runs_no_job(spark):
    _assert_local_frame_runs_no_job(spark, lambda: local_frame(spark, _ROWS, _SCHEMA))
    assert local_frame(spark, [], "k int").count() == 0


def test_local_frame_from_arrow_rows_runs_no_job(spark):
    """Over the ``arrow_rows`` table of the same rows (the form ``TableIO``
    writes without Spark)."""
    _assert_local_frame_runs_no_job(
        spark, lambda: local_frame(spark, arrow_rows(_ROWS, _SCHEMA))
    )
