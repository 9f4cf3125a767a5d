"""TableIO snapshot semantics: atomic commit, incremental read, partition
overwrite idempotency (the Iceberg-emulation seam, SURVEY.md §7)."""

import pytest
from pyspark.sql import functions as F

from mq_to_db_spark.sources.tableio import TableIO


def test_append_and_snapshot_read(spark, tmp_path):
    t = TableIO(str(tmp_path / "t"))
    df1 = spark.range(10).withColumn("v", F.col("id") * 2)
    df2 = spark.range(10, 15).withColumn("v", F.col("id") * 2)
    s1 = t.append(df1)
    s2 = t.append(df2)
    assert t.read(spark).count() == 15
    assert t.read(spark, version=s1.version).count() == 10
    assert s2.parent_id == s1.snapshot_id


def test_incremental_read(spark, tmp_path):
    t = TableIO(str(tmp_path / "t"))
    t.append(spark.range(10))
    v1 = t.current_version()
    t.append(spark.range(10, 30))
    t.append(spark.range(30, 35))
    inc = t.read_incremental(spark, from_version=v1)
    assert inc.count() == 25
    assert set(r.id for r in inc.collect()) == set(range(10, 35))


def test_partition_overwrite_idempotent(spark, tmp_path):
    t = TableIO(str(tmp_path / "t"), partition_cols=["p"])
    df = spark.range(20).withColumn("p", (F.col("id") % 2).cast("int"))
    t.overwrite_partitions(df)
    # replay the same logical content for p=0 → table state unchanged
    t.overwrite_partitions(df.filter("p = 0"))
    out = t.read(spark)
    assert out.count() == 20
    assert out.filter("p = 0").count() == 10
    # new content for p=1 replaces, p=0 untouched
    t.overwrite_partitions(
        spark.range(100, 103).withColumn("p", F.lit(1).cast("int"))
    )
    out = t.read(spark)
    assert out.filter("p = 1").count() == 3
    assert out.filter("p = 0").count() == 10


def test_partition_pruning_on_read(spark, tmp_path):
    t = TableIO(str(tmp_path / "t"), partition_cols=["p"])
    t.overwrite_partitions(spark.range(100).withColumn("p", (F.col("id") % 4).cast("int")))
    plan = t.read(spark).filter("p = 2")._jdf.queryExecution().executedPlan().toString()
    # hive-style partition dirs + basePath → Catalyst prunes partitions
    assert "PartitionFilters: [isnotnull(p" in plan


def test_empty_table_read_with_schema(spark, tmp_path):
    t = TableIO(str(tmp_path / "t"))
    df = t.read(spark, schema="id long")
    assert df.count() == 0


def test_incremental_across_overwrite_raises(spark, tmp_path):
    t = TableIO(str(tmp_path / "t"), partition_cols=["p"])
    t.append(spark.range(5).withColumn("p", F.lit(0).cast("int")))
    v1 = t.current_version()
    t.overwrite_partitions(spark.range(5).withColumn("p", F.lit(0).cast("int")))
    with pytest.raises(ValueError, match="non-append"):
        t.read_incremental(spark, from_version=v1)


def test_compact_collapses_small_files(spark, tmp_path):
    """Streaming appends leave many small files; compact() rewrites each
    multi-file partition to one file, atomically, keeping data identical
    and old snapshots readable until vacuum."""
    from mq_to_db_spark.sources.tableio import TableIO, partition_values

    t = TableIO(str(tmp_path / "t"), ["date"])
    for i in range(4):
        df = spark.createDataFrame(
            [(f"2025-01-0{d}", i, d * 10 + i) for d in (1, 2)],
            "date string, batch int, v int",
        )
        t.append(df)
    before = t.snapshot()
    from collections import Counter

    per_part = Counter(f.split("/")[0] for f in before.all_files)
    assert all(n == 4 for n in per_part.values())

    pre = t.read(spark).orderBy("date", "batch").collect()
    snap = t.compact(spark)
    assert snap is not None and snap.version == before.version + 1
    per_part2 = Counter(f.split("/")[0] for f in snap.all_files)
    assert all(n == 1 for n in per_part2.values()), per_part2
    assert t.read(spark).orderBy("date", "batch").collect() == pre
    # time travel to the pre-compaction snapshot still works
    assert t.read(spark, version=before.version).count() == len(pre)
    # second compact: nothing to do
    assert t.compact(spark) is None
    # vacuum reclaims the small files
    deleted = t.vacuum()
    assert len(deleted) == len(before.all_files)


def test_compact_unpartitioned_table(spark, tmp_path):
    from mq_to_db_spark.sources.tableio import TableIO

    t = TableIO(str(tmp_path / "u"))
    for i in range(3):
        t.append(spark.createDataFrame([(i,)], "v int"))
    snap = t.compact(spark)
    assert snap is not None and len(snap.all_files) == 1
    assert sorted(r.v for r in t.read(spark).collect()) == [0, 1, 2]


def test_read_where_selects_partitions_with_table_types(spark, tmp_path):
    """read(where=p) hands Spark only the files p selects and equals read()
    filtered on the same hive values, with the table's column types even
    where the matched values alone would infer others (``tier=1d`` alone
    reads as a double); matching nothing gives an empty frame with the
    table's columns.  An incremental read of a ``tier=1d``-only append
    keeps the table's types too."""
    t = TableIO(str(tmp_path / "t"), partition_cols=["tier", "d"])
    rows = [(i, ("1m", "1h", "1d")[i % 3], f"2025-01-0{1 + i % 2}") for i in range(12)]
    t.append(
        spark.createDataFrame(rows, "id long, tier string, d string")
        .withColumn("d", F.col("d").cast("date"))
    )
    full = t.read(spark)
    for where, cond in (
        (lambda pv: pv["tier"] == "1d", "tier = '1d'"),
        (lambda pv: pv["tier"] != "1m" and pv["d"] == "2025-01-02", "tier != '1m' AND d = '2025-01-02'"),
    ):
        got = t.read(spark, where=where)
        assert got.dtypes == full.dtypes
        assert sorted(got.collect()) == sorted(full.filter(cond).collect())
        assert len(got.inputFiles()) == len(t.files(where)) < len(full.inputFiles())
    empty = t.read(spark, where=lambda pv: False)
    assert empty.dtypes == full.dtypes and empty.count() == 0
    v1 = t.current_version()
    t.append(full.filter("tier = '1d'").withColumn("id", F.col("id") + 100))
    inc = t.read_incremental(spark, from_version=v1)
    assert inc.dtypes == full.dtypes
    assert sorted(inc.collect()) == sorted(
        full.filter("tier = '1d'").withColumn("id", F.col("id") + 100).collect()
    )
