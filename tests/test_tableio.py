"""TableIO snapshot semantics: atomic commit, incremental read, partition
overwrite idempotency (the Iceberg-emulation seam, SURVEY.md §7)."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from mq_to_db_spark.session import local_frame
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


# -- the two staging paths ------------------------------------------------------
#
# A commit stages a frame Spark would pull into the driver through Arrow and
# pyarrow, any other through Spark's writer.  The tests below run both
# (``staged_through("spark")`` forces the Spark path by setting
# spark.sql.autoBroadcastJoinThreshold to -1) and hold them to one table.


def _writers(t) -> set[str]:
    """The ``created_by`` of every data file in ``t``'s current snapshot:
    ``parquet-cpp-arrow …`` for the Arrow path, ``parquet-mr …`` for
    Spark's writer."""
    import pyarrow.parquet as pq

    return {
        pq.read_metadata(os.path.join(t.data_dir, f)).created_by.split(" version")[0]
        for f in t.files()
    }


WRITER = {"arrow": "parquet-cpp-arrow", "spark": "parquet-mr"}


@pytest.mark.parametrize("path", ["arrow", "spark"])
def test_failed_commit_leaves_no_staging_files(spark, tmp_path, staged_through, path):
    """A frame that raises while being staged leaves neither a snapshot
    nor anything under ``_staging``."""
    t = TableIO(str(tmp_path / "t"), partition_cols=["p"])
    # spark.range carries a size estimate; a frame over a Python list has
    # none, so it would take Spark's writer on both paths
    boom = F.when(F.col("id") == 7, F.raise_error(F.lit("boom"))).otherwise(F.col("id"))
    df = spark.range(20).withColumn("p", (F.col("id") % 2).cast("int")).withColumn("v", boom)
    with staged_through(path):
        assert t._driver_sized(df) == (path == "arrow")
        with pytest.raises(Exception, match="boom"):
            t.append(df)
    staging = tmp_path / "t" / "_staging"
    assert not staging.exists() or not os.listdir(staging)
    assert t.current_version() == 0 and not os.listdir(t.data_dir)


PARTITION_STRINGS = [None, "", "a b", "x/y", "50%", "k=v", "t:1", "é"]


def _partitioned_frame(spark, offset=0):
    rows = [
        (offset + i, s, i - 3, dt.date(2025, 1, 1 + i % 2))
        for i, s in enumerate(PARTITION_STRINGS)
    ] + [(offset + 99, "a b", None, None)]
    return local_frame(spark, rows, "v long, s string, i int, d date")


def test_both_staging_paths_name_partition_dirs_alike(spark, tmp_path, staged_through):
    """String values Spark escapes (``/ % = :``), leaves alone (space,
    ``é``) or maps to the default partition (null, ``''``), and int and
    date values, give byte-identical directory names on both paths and
    read back to the same rows."""
    out = {}
    for path in ("arrow", "spark"):
        t = TableIO(str(tmp_path / path), partition_cols=["s", "i", "d"])
        with staged_through(path):
            t.append(_partitioned_frame(spark))
        assert _writers(t) == {WRITER[path]}
        dirs = {os.path.dirname(f) for f in t.files()}
        out[path] = (dirs, t.read(spark).dtypes, sorted(t.read(spark).collect()))
    assert out["arrow"] == out["spark"]
    dirs = out["arrow"][0]
    assert {d.split("/")[0] for d in dirs} == {
        "s=__HIVE_DEFAULT_PARTITION__", "s=a b", "s=x%2Fy", "s=50%25", "s=k%3Dv", "s=t%3A1", "s=é",
    }
    assert "s=a b/i=__HIVE_DEFAULT_PARTITION__/d=__HIVE_DEFAULT_PARTITION__" in dirs
    assert "s=é/i=4/d=2025-01-02" in dirs


def test_partition_types_arrow_cannot_name_take_sparks_writer(spark, tmp_path):
    """A double partition value's directory name is Spark's cast to
    string, which the Arrow path does not reproduce: such a frame keeps
    Spark's writer however small it is."""
    t = TableIO(str(tmp_path / "t"), partition_cols=["x"])
    t.append(local_frame(spark, [(1, 0.5), (2, 1e20)], "v long, x double"))
    assert _writers(t) == {WRITER["spark"]}
    assert sorted(os.path.dirname(f) for f in t.files()) == ["x=0.5", "x=1.0E20"]


@pytest.mark.parametrize("first, second", [("arrow", "spark"), ("spark", "arrow")])
def test_overwrite_partitions_replaces_the_other_paths_files(
    spark, tmp_path, staged_through, first, second
):
    t = TableIO(str(tmp_path / "t"), partition_cols=["s", "d"])
    with staged_through(first):
        t.append(_partitioned_frame(spark).drop("i"))
    before = t.files()
    new = _partitioned_frame(spark, offset=1000).drop("i").filter("s IN ('a b', 'é', '50%')")
    with staged_through(second):
        snap = t.overwrite_partitions(new)
    touched = {os.path.dirname(f) for f in snap.added_files}
    assert sorted(snap.removed_files) == sorted(f for f in before if os.path.dirname(f) in touched)
    assert _writers(t) == {WRITER[first], WRITER[second]}
    got = t.read(spark)
    assert sorted(r.v for r in got.filter("s IN ('a b', 'é', '50%')").collect()) == sorted(
        r.v for r in new.collect()
    )
    assert got.filter("s IS NULL OR s NOT IN ('a b', 'é', '50%')").count() == len(before) - len(
        snap.removed_files
    )


def test_both_staging_paths_round_trip_the_pipeline_tables(spark, tmp_path, staged_through):
    """Each of the pipeline's 4 tables (timestamp, date, map<string,bigint>,
    int, double and string columns) reads back with the same rows and
    dtypes whichever path staged it."""
    from mq_to_db_spark.config import EngineConfig
    from mq_to_db_spark.fixtures.generator import (
        TRANSCRIPT_SCHEMA,
        generate_transcripts_pdf,
        inject_dirty_rows,
    )
    from mq_to_db_spark.plans.pipeline import RollupPipeline

    pdf = inject_dirty_rows(generate_transcripts_pdf(300, seed=5))
    pipe = RollupPipeline(str(tmp_path / "wh"), EngineConfig(conv_buckets=4))
    pipe.run(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA), batch_id="b0", mode="append")
    types = set()
    for name, src in pipe.tables.items():
        frame = src.read(spark)
        types |= {t for _, t in frame.dtypes}
        out = {}
        for path in ("arrow", "spark"):
            t = TableIO(str(tmp_path / path / name), src.partition_cols)
            with staged_through(path):
                t.append(frame)
            assert _writers(t) == {WRITER[path]}, name
            back = t.read(spark)
            out[path] = (back.dtypes, sorted(back.collect(), key=repr))
        assert out["arrow"] == out["spark"], name
        assert out["arrow"][0] == frame.dtypes and len(out["arrow"][1]) == frame.count() > 0, name
    assert {"timestamp", "date", "map<string,bigint>", "int", "double", "string"} <= types
