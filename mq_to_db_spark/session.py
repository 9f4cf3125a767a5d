"""SparkSession factory.

Analogue of the reference's EP1 startup (SURVEY.md §3): pool sizing
(/root/reference/internal/storage/pgsql/pgsql.go:43-45) and worker
parallelism (config.go:32-33) become Spark core/shuffle sizing.  AQE is
always on — it is the engine's morsel-style dynamic work distribution
(main.go:276-280 work-stealing analogue) and its skew-join mitigation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(
    app_name: str = "mq_to_db_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    pretouch: bool = False,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the rollup workload.

    Defaults: ``local[$SPARK_GRAFT_CPUS or *]``, shuffle partitions =
    core count (not 200 — avoids tiny-partition overhead in local mode),
    AQE + skew join on, Arrow on (every pandas UDF crossing is
    Arrow-batched; no per-row Python anywhere in the engine).

    ``pretouch=True`` launches the JVM with ``-Xms=<driver mem>
    -XX:+AlwaysPreTouch`` (driver mem: ``$SPARK_GRAFT_DRIVER_MEM``, default
    8g): the whole heap is committed and first-touched at startup and G1
    never uncommits it.
    On hosts that throttle page-commit (memory-overcommitted VMs — this
    sandbox tariffs first-touch ~50-100× while re-use runs at full
    speed, BENCH/PROFILE.md §6) an untouched heap turns every
    allocation-heavy stage into a page-fault stall, so benchmarks and
    throughput runs MUST pretouch; it is also the standard production
    setting for long-lived executors (stable RSS, no mid-query commit
    stalls).  Off by default because it slows JVM startup by the full
    first-touch cost, which correctness-only runs (pytest, oracle
    checks) never get back.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_str = master[master.index("[") + 1 : -1] if "[" in master else "*"
        shuffle_partitions = os.cpu_count() if cpus_str == "*" else int(cpus_str)

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    # Ship the package to executor Python workers — the local-mode analogue
    # of `spark-submit --py-files mq_to_db_spark.zip` (north_rule): without
    # it, pandas-UDF workers can't unpickle functions defined in this
    # package when the driver script lives elsewhere.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env_pp = os.environ.get("PYTHONPATH", "")
    worker_pp = f"{pkg_root}:{env_pp}" if env_pp else pkg_root

    builder = (
        SparkSession.builder.master(master)
        .config("spark.executorEnv.PYTHONPATH", worker_pp)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI is Spark 4's default; pinned so overflow and invalid casts
        # raise by contract, not by whichever default the runtime ships
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # TableIO hands Spark leaf files taken from the manifest, so listing
        # them means one local stat per file; above the default threshold
        # (32 paths) Spark would instead run a distributed listing job, one
        # task per file, on every table read.  Never distribute it.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        # InferFiltersFromGenerate injects `size(arr)>0 AND isnotnull(arr)`
        # below every explode; predicate pushdown then inlines the
        # generator expression into that filter, and for computed arrays
        # whose definition nests shared subexpressions inside CASE branches
        # (shingle sets, posting lists, winnow fingerprints) conditional
        # branches are ineligible for codegen subexpression elimination —
        # measured 35× slowdown (27.3s → 0.78s exploding 5k docs' shingle
        # sets).  The rule only helps push emptiness pruning to sources,
        # which explode's own execution already handles; excluded.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    if pretouch:
        # -Xmx comes from spark.driver.memory (Spark forbids it in
        # extraJavaOptions); -Xms pinned to the same value disables G1
        # heap uncommit, AlwaysPreTouch faults every page in at startup.
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def arrow_rows(rows, schema: T.StructType | str):
    """A few driver-side rows (tuples in ``schema`` order; ``schema`` a
    StructType or DDL string) as one ``pyarrow.Table`` in the Arrow types
    Spark maps ``schema`` to.  Arrow reads naive datetimes as UTC wall
    time, where Spark's list path converts them with the driver process's
    local time zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )


def local_frame(spark: SparkSession, rows, schema: T.StructType | str | None = None) -> DataFrame:
    """A DataFrame over a few driver-side rows: tuples in ``schema`` order
    (see :func:`arrow_rows`), or a ``pyarrow.Table`` (``schema`` None).

    The rows cross into the JVM as one Arrow table and become a
    ``LocalRelation``, so building and reading the frame runs no Spark
    job.  ``spark.createDataFrame(list, schema)`` instead parallelizes
    the rows and re-serializes them in a Python worker on every task,
    one job each time the frame is evaluated."""
    import pyarrow as pa

    if not isinstance(rows, pa.Table):
        schema = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
        rows = arrow_rows(rows, schema)
    return spark.createDataFrame(rows, schema=schema)
