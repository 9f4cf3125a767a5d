"""RollupPipeline — the engine's end-to-end job (SURVEY.md §3 EP2 analogue).

One batch run =
    read input → validate and tag each row with its unit (cached for the
    batch) → per-unit rollup of every tier (1m / 1h / 1d) and dimension
    (global / per-conv / per-tool) in one aggregation → one commit of
    every tier to the rollup table → dead-letter append → lineage
    append → job-metrics append (the ack) [→ unit markers, overwrite
    mode only].

Delivery semantics (the reference's ack/reject loop re-expressed, SURVEY.md
§1.3): the unit of work is a logical partition ``(conv_bucket, date)`` —
``conv_bucket = pmod(xxhash64(conv_id), B)`` is the Iceberg
``bucket(conv_id)`` analogue, ``date`` the ``days(ts)`` range partition.
A delivery is acked once, only **after** every commit of the batch
succeeds (ack-after-durable-store, messages.go:131-148):

  * ``append`` (micro-batches): the ``job_metrics`` commit, the batch's
    last, is the ack — every commit records its ``batch_id`` in the
    table's snapshot ledger (``TableIO.has_batch``).  A replay of an
    acked ``batch_id`` is a full skip; a replay after a crash earlier in
    the batch skips each table that already holds the batch, so no
    partial is appended twice;
  * ``overwrite`` (whole-unit deliveries): after the ``job_metrics``
    commit each unit gets a marker under ``work_dir/_checkpoints``.  A
    unit is acked forever, so a redelivery under any ``batch_id``
    reprocesses exactly the unmarked units; rollup writes are partition
    overwrites keyed by the unit, so replays are idempotent.

A delivery whose rows all lack a unit (null ``conv_id`` or ``ts``) has no
marker to write and is acked by the ledger in both modes.  At-least-once
reprocessing + idempotent sink = effectively-once, the same contract the
reference gets from manual ack + DLX.  One delivery is one rollup commit,
so a crash can never leave it in some tiers and not others.

Scale notes (10^12 turns):
  * ONE table, ``rollup_tiers``, holds every tier's and every dimension's
    series, *partitioned by (tier, dim, date, conv_bucket)*, and stores
    **partials within the unit**; dimensions whose grain crosses units
    (global, per-tool) are finalized by a cheap re-aggregation at read
    time over tier-sized (not raw-sized) data — the classic partial/final
    split, so the batch commits every tier once;
  * raw data is scanned, and the duplicate-key shuffle of validation
    runs, once per batch: ``run`` caches the tagged delivery, the
    unit-stats collect fills the cache, and the rollup and dead-letter
    commits read it (at 10^12 turns the cache spills to local disk:
    ``persist``'s default level is memory and disk).  The cache is dropped
    when the batch ends, however it ends;
  * the partition order follows the selectivity of the table's users:
    every read, refresh and retention pass selects whole tiers, so
    ``tier`` is outermost; a read then keeps one ``dim``; refresh,
    retention and date-bounded reads cut on ``date``; ``conv_bucket``
    completes the ingest unit that a partition overwrite replaces.
    Pruning on the hive values keeps each of them on its own files;
  * every (tier, dim) partial comes from ONE grouping-sets aggregation
    (``rollup_grouping_sets``: one bucket column per tier, 9 sets), so
    the rollup's one shuffle is keyed by the full group, (conv_bucket,
    date) included, after map-side partial aggregation, with no cascade
    stage on top, and AQE handles residual skew;
  * filters on committed units are pushed into the scan
    (conv_bucket/date derive from input columns via deterministic
    expressions, so Catalyst prunes at the parquet level when the input
    is physically partitioned the same way); only a partly acked
    ``overwrite`` redelivery needs that join — every other delivery
    keeps the rows that have a unit with a plain filter.

Fixed cost per micro-batch (it sets ack latency, not the data):
  * driver-side rows are built as one Arrow table
    (``session.arrow_rows``): the lineage rows and the job-metrics row
    go straight to ``TableIO`` as that table, so pyarrow writes them
    with no Spark job, and the pending-unit list enters Spark through
    ``session.local_frame`` (a ``LocalRelation``: no job, no Python
    worker).  ``committed_at`` is stored as UTC whatever the driver
    process's ``TZ``;
  * table reads hand Spark only the manifest's leaf files whose hive
    partition values match the read's region (``TableIO.read(where=)``;
    a coarse-tier read never indexes the fine tier's files), and
    ``get_spark`` pins the parallel-listing threshold so that listing
    them stays a local stat per file on the driver instead of a
    distributed job per read once a read covers more than 32 files;
  * a micro-batch's rollup and dead-letter commits and a refresh's
    commit are small by Spark's own measure (when the input's plan
    carries a size estimate, as file and driver-side inputs and the
    batch's cache do), so ``TableIO`` stages them through Arrow: one
    ``toArrow`` job, then pyarrow writes one file per partition
    directory (one file per side table).  Spark's writer would go
    through Hadoop's local file system, which starts a ``chmod`` child
    process of the driver JVM for every file and directory it creates.
"""

from __future__ import annotations

import datetime as dt
import json
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mq_to_db_spark.config import EngineConfig
from mq_to_db_spark.operators.gapfill import gapfill
from mq_to_db_spark.operators.rollup import (
    AGG_COL_NAMES,
    _merge_aggs,
    dim_slice,
    rollup_grouping_sets,
)
from mq_to_db_spark.operators.validate import with_reject_reason
from mq_to_db_spark.session import arrow_rows, local_frame
from mq_to_db_spark.sources.store import LocalAtomicStore
from mq_to_db_spark.sources.tableio import TableIO, partition_values

#: rollup dimensions materialized by the pipeline: name → series key cols
DIMENSIONS: dict[str, list[str]] = {
    "global": [],
    "conv": ["conv_id"],
    "tool": ["tool"],
}

#: the one rollup table: every tier's and every dimension's series
ROLLUP_TABLE = "rollup_tiers"


LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType()),
        T.StructField("partition_id", T.StringType()),
        T.StructField("conv_bucket", T.IntegerType()),
        T.StructField("date", T.DateType()),
        T.StructField("status", T.StringType()),
        T.StructField("n_in", T.LongType()),
        T.StructField("n_ok", T.LongType()),
        T.StructField("n_rejected", T.LongType()),
        T.StructField("committed_at", T.TimestampType()),
    ]
)


METRICS_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType()),
        T.StructField("n_units_total", T.LongType()),
        T.StructField("n_units_skipped", T.LongType()),
        T.StructField("n_in", T.LongType()),
        T.StructField("n_ok", T.LongType()),
        T.StructField("n_rejected", T.LongType()),
        T.StructField("points_written", T.MapType(T.StringType(), T.LongType())),
        T.StructField("seconds", T.DoubleType()),
        T.StructField("engine_version", T.StringType()),
        T.StructField("committed_at", T.TimestampType()),
    ]
)


@dataclass
class BatchReport:
    """Per-batch metrics — the analogue of the reference's Prometheus
    counter families (messages_total / ack / rejected,
    internal/metrics/metrics.go:136-183) plus wall-clock."""

    batch_id: str
    n_units_total: int = 0
    n_units_skipped: int = 0
    n_in: int = 0
    n_ok: int = 0
    n_rejected: int = 0
    points_written: dict = field(default_factory=dict)
    seconds: float = 0.0

    def to_json(self) -> str:
        return json.dumps(self.__dict__, default=str)


def _iso_date(d) -> str:
    """A date bound (``dt.date`` or ISO string) as the ``date=``
    partition value it is compared with."""
    return dt.date.fromisoformat(str(d)[:10]).isoformat()


def conv_bucket_col(conv_buckets: int):
    """``pmod(xxhash64(conv_id), B)`` — the Iceberg ``bucket(conv_id)``
    analogue that keys a unit."""
    return F.pmod(F.xxhash64("conv_id"), F.lit(conv_buckets)).cast("int")


def unit_cols(df: DataFrame, conv_buckets: int) -> DataFrame:
    return df.withColumn("conv_bucket", conv_bucket_col(conv_buckets)).withColumn(
        "date", F.to_date("ts")
    )


class RollupPipeline:
    def __init__(
        self,
        work_dir: str,
        cfg: EngineConfig | None = None,
        table_factory=None,
    ):
        """``table_factory(name, partition_cols) -> TableIO-like`` selects
        the storage backend: default is the parquet-emulated
        ``sources.tableio.TableIO``; pass a closure over
        ``sources.iceberg.IcebergTableIO`` (jar-gated) for a real Iceberg
        catalog.  Overwrite mode's unit markers live in an AtomicStore
        under ``work_dir/_checkpoints``, beside the tables."""
        self.work_dir = work_dir
        self.cfg = cfg or EngineConfig()
        self.markers = LocalAtomicStore(f"{work_dir}/_checkpoints")
        if table_factory is None:
            table_factory = lambda name, part=None: TableIO(  # noqa: E731
                f"{work_dir}/{name}", part
            )
        self.rollup = table_factory(ROLLUP_TABLE, ["tier", "dim", "date", "conv_bucket"])
        self.dead_letter = table_factory("dead_letter", None)
        self.lineage = table_factory("lineage", None)
        self.metrics = table_factory("job_metrics", None)
        #: every table the pipeline commits to, by name
        self.tables: dict[str, TableIO] = {
            ROLLUP_TABLE: self.rollup,
            "dead_letter": self.dead_letter,
            "lineage": self.lineage,
            "job_metrics": self.metrics,
        }

    # -- unit markers (overwrite mode) ---------------------------------------
    #
    # Units arrive whole per overwrite batch, so a unit is acked once,
    # forever: a redelivered batch skips it whatever its batch_id.  Append
    # mode writes no marker — a later micro-batch carrying more turns for
    # the same unit appends fresh partials (read-side merge makes that
    # exact), and the batch's job_metrics commit is its ack.

    def _marker_key(self, conv_bucket: int, date: str) -> str:
        return f"{date}_b{conv_bucket:04d}.json"

    def committed_units(self) -> set[tuple[int, str]]:
        out = set()
        for key in self.markers.list():
            if key.endswith(".json"):
                date, b = key[:-5].rsplit("_b", 1)
                out.add((int(b), date))
        return out

    def _write_marker(self, conv_bucket: int, date: str, batch_id: str, stats: dict):
        self.markers.write_text_atomic(
            self._marker_key(conv_bucket, date),
            json.dumps({"batch_id": batch_id, "committed_at": time.time(), **stats}),
        )

    # -- one sink commit ------------------------------------------------------

    def _commit(self, spark: SparkSession, table: str, fn, fail_after: str | None):
        """Run one sink commit under the configured wall-clock bound
        (``cfg.max_query_timeout_sec`` — the reference's `maxQueryTimeOut`
        around every ExecContext, pgsql.go:86-96).  Unbounded when None
        (the default).  On deadline the commit's job group is cancelled
        and QueryTimeoutError propagates out of ``run`` BEFORE the ack
        (the ``job_metrics`` commit and any unit marker), so redelivery
        replays the batch — the same
        at-least-once story as a reference statement timeout.

        ``fail_after`` is ``run``'s fault-injection hook: when it names
        ``table``, raise right after that table's commit (the
        crash-between-commit-and-ack window)."""
        if self.cfg.max_query_timeout_sec is None:
            snap = fn()
        else:
            from .bounds import bounded_action

            snap = bounded_action(
                spark, fn, self.cfg.max_query_timeout_sec, description=f"commit:{table}"
            )
        if fail_after == table:
            raise RuntimeError(f"injected failure after commit of {table}")
        return snap

    def _batch_snapshot(self, tbl: TableIO, batch_id: str):
        """The newest snapshot of ``tbl`` that committed ``batch_id``."""
        for v in range(tbl.current_version(), 0, -1):
            snap = tbl.snapshot(v)
            if snap.summary.get("batch_id") == batch_id:
                return snap
        raise KeyError(batch_id)

    # -- the batch job --------------------------------------------------------

    def run(
        self,
        spark: SparkSession,
        input_df: DataFrame,
        batch_id: str | None = None,
        fail_after_commit_of: str | None = None,
        mode: str = "overwrite",
    ) -> BatchReport:
        """Process one delivery batch.  ``fail_after_commit_of`` is a test
        hook: raise after committing the named table (one of
        ``self.tables``; simulates the crash-between-commit-and-ack
        window the resume tests need).

        ``mode="overwrite"`` (batch): units arrive whole; the rollup write
        is a partition overwrite, and each unit is acked forever by a
        marker written last.  ``mode="append"`` (streaming micro-batches):
        a unit's turns may span batches, so the rollup write APPENDS
        per-batch partials (read-side merge keeps results exact), and the
        batch is acked all-or-nothing by its ``job_metrics`` commit; a
        replay before that skips each table whose snapshot ledger
        (``TableIO.has_batch``) already holds the batch_id.  A delivery
        none of whose rows has a unit (each has a null ``conv_id`` or
        ``ts``) is dead-lettered and acked by its ``job_metrics`` commit
        in both modes."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"unknown mode {mode!r}")
        t0 = time.time()
        report = BatchReport(batch_id=batch_id or uuid.uuid4().hex[:12])
        # The delivery is tagged once and cached: the unit-stats collect
        # below fills the cache, and the rollup and dead-letter commits
        # read it back instead of scanning the input and re-running the
        # duplicate-key shuffle.  No cache outlives the batch, whatever
        # way it ends.
        tagged = unit_cols(with_reject_reason(input_df), self.cfg.conv_buckets).persist()
        try:
            return self._run_tagged(spark, tagged, report, t0, fail_after_commit_of, mode)
        finally:
            tagged.unpersist()

    def _run_tagged(
        self,
        spark: SparkSession,
        tagged: DataFrame,
        report: BatchReport,
        t0: float,
        fail_after_commit_of: str | None,
        mode: str,
    ) -> BatchReport:
        """:meth:`run` over the cached tagged delivery."""
        cfg = self.cfg
        batch_id = report.batch_id
        summary = {"batch_id": batch_id}

        # -- which units does this batch carry, and which are already done?
        units_df = tagged.groupBy("conv_bucket", "date").agg(
            F.count(F.lit(1)).alias("n_in"),
            F.count_if(F.col("reason").isNotNull()).alias("n_rejected"),
        )
        # rows whose unit cols are null still go to the dead letter (always
        # rejected: a null unit col implies a null conv_id or ts reason)
        units, n_unitless = {}, 0
        for r in units_df.collect():
            if r.conv_bucket is None or r.date is None:
                n_unitless += int(r.n_in)
            else:
                units[(r.conv_bucket, str(r.date))] = (r.n_in, r.n_rejected)
        if mode == "append" or not units:
            acked = self.metrics.has_batch(batch_id)
            todo = set() if acked else set(units)
        else:
            todo = set(units) - self.committed_units()
            acked = not todo
        report.n_units_total = len(units)
        report.n_units_skipped = len(units) - len(todo)

        if acked or not (todo or n_unitless):
            # an acked (or empty) redelivery: no data, lineage or metrics
            # row is written (nothing changed) — mirroring the reference,
            # where a redelivered-and-deduped message increments no
            # storer counters.  The returned report still records the skip.
            report.seconds = time.time() - t0
            return report

        has_unit = F.col("conv_bucket").isNotNull() & F.col("date").isNotNull()
        if len(todo) == len(units):
            # no unit acked yet (every first delivery, every append
            # batch): keep the unit rows, no join needed
            pending = tagged.filter(has_unit)
        else:
            # partly acked overwrite redelivery: a broadcast semi-join
            # prunes the marked units before any shuffle (the select keeps
            # a first delivery's column order: USING moves the keys first)
            todo_df = local_frame(
                spark,
                [(b, dt.date.fromisoformat(d)) for b, d in sorted(todo)],
                "conv_bucket int, date date",
            )
            pending = tagged.join(
                F.broadcast(todo_df), ["conv_bucket", "date"], "left_semi"
            ).select(*tagged.columns)

        # Rows whose unit cols are null (null conv_id / null ts) are not in
        # `pending`; they belong to no unit but must still reach the dead
        # letter (at-least-once DLX — reruns may re-append them, as broker
        # redelivery would).
        unitless = tagged.filter(~has_unit)
        rejected = pending.filter(F.col("reason").isNotNull()).unionByName(unitless)
        valid = pending.filter(F.col("reason").isNull()).drop("reason")

        points = dict.fromkeys(cfg.tiers, 0)  # files committed per tier
        if todo:
            # One aggregation for every tier and dimension (grouping sets,
            # rollup_grouping_sets) over the cached valid rows: one shuffle
            # of partial aggregates keyed by the full group, so hot
            # (bucket, date) units are already defused by map-side partial
            # aggregation, and all tiers go out in one commit.
            rollup_df = rollup_grouping_sets(
                valid,
                DIMENSIONS,
                tiers=tuple(cfg.tiers),
                extra_group_cols=["conv_bucket", "date"],
            )
            # the tool dimension tracks tool *usage*: non-tool turns
            # (tool IS NULL) are not a series
            rollup_df = rollup_df.filter((F.col("dim") != "tool") | F.col("tool").isNotNull())
            if mode == "append" and self.rollup.has_batch(batch_id):
                # a crash-window replay of this batch_id: its partials are
                # already in (a second append would double-count in the
                # read-side sum)
                snap = self._batch_snapshot(self.rollup, batch_id)
            else:
                write = self.rollup.append if mode == "append" else self.rollup.overwrite_partitions
                snap = self._commit(
                    spark,
                    ROLLUP_TABLE,
                    lambda: write(rollup_df, summary=summary),
                    fail_after_commit_of,
                )
            for f in snap.added_files:
                points[partition_values(f)["tier"]] += 1

        # dead letter (append — a redelivery under a new batch_id of a
        # partly acked overwrite batch re-appends its unit-less rejects;
        # dedup at read on (conv_id, turn_idx, reason, batch) is the
        # consumer's job, mirroring at-least-once DLX).
        # The reject count is derived from the already-collected unit stats
        # — a `rejected.count()` here would cost an extra full scan of the
        # tagged input on top of the append's own (2 extra raw scans/batch
        # at 10^12 turns).
        n_rej = sum(units[u][1] for u in todo) + n_unitless
        if n_rej and not self.dead_letter.has_batch(batch_id):
            self._commit(
                spark,
                "dead_letter",
                lambda: self.dead_letter.append(
                    rejected.withColumn("batch_id", F.lit(batch_id)), summary=summary
                ),
                fail_after_commit_of,
            )

        committed_ts = dt.datetime.fromtimestamp(time.time(), dt.timezone.utc).replace(tzinfo=None)
        lineage_rows = [
            (batch_id, f"{d}_b{b:04d}", b, dt.date.fromisoformat(d), "committed",
             int(n_in), int(n_in - n_r), int(n_r), committed_ts)
            for (b, d), (n_in, n_r) in sorted((u, units[u]) for u in todo)
        ]
        if lineage_rows and not self.lineage.has_batch(batch_id):
            self._commit(
                spark,
                "lineage",
                lambda: self.lineage.append(
                    arrow_rows(lineage_rows, LINEAGE_SCHEMA), summary=summary
                ),
                fail_after_commit_of,
            )
        # counter semantics mirror the reference's storer totals: every
        # consumed message counts, including unitless rejects (which have
        # no lineage row — they belong to no unit — but do reach the dead
        # letter and therefore the rejected counter)
        report.n_in = int(sum(units[u][0] for u in todo)) + n_unitless
        report.n_rejected = int(n_rej)
        report.n_ok = report.n_in - report.n_rejected
        report.points_written = points
        report.seconds = time.time() - t0

        # durable job metrics — the reference's Prometheus counter
        # families as a table row per batch (metrics.go:136-183 analogue).
        # The last commit of the batch, and so its ack: an append batch
        # (or a unit-less delivery) is acked once the metrics table's
        # ledger holds its batch_id; overwrite mode's unit markers follow.
        from mq_to_db_spark import __version__

        if not self.metrics.has_batch(batch_id):
            row = (batch_id, report.n_units_total, report.n_units_skipped, report.n_in,
                   report.n_ok, report.n_rejected, points, float(report.seconds),
                   __version__, committed_ts)
            self._commit(
                spark,
                "job_metrics",
                lambda: self.metrics.append(arrow_rows([row], METRICS_SCHEMA), summary=summary),
                fail_after_commit_of,
            )
        if mode == "overwrite":
            for b, d in sorted(todo):
                n_in, n_r = units[(b, d)]
                self._write_marker(b, d, batch_id, {"n_in": int(n_in), "n_rejected": int(n_r)})
        return report

    # -- read-side finalization ----------------------------------------------

    def read_rollup(
        self,
        spark: SparkSession,
        dim: str,
        tier: str,
        gap_filled: bool = False,
        start_date: dt.date | str | None = None,
        end_date: dt.date | str | None = None,
    ) -> DataFrame:
        """Final (cross-unit merged) rollup for a dimension/tier.

        The rollup table holds every tier's and dimension's per-unit
        partials; the read hands Spark only the files of this ``tier``
        and ``dim`` (selected from the snapshot's manifest by
        ``TableIO.read(where=)``) and the final merge groups by
        (bucket_start, keys) over tier-sized data.  For dim="conv" the
        merge is a near-no-op (a conversation lives in one conv_bucket,
        but a 1h/1d bucket can span two dates only at day boundaries —
        still merged here for exactness).

        After :meth:`finalize` of this tier the current snapshot holds
        exactly one row per (bucket, series) — the read is then a plain
        scan+project (no Aggregate node), which is the whole point:
        without finalization a long-running streaming append accumulates
        one partial row per micro-batch and every dashboard read re-merges
        all of them.

        ``start_date`` / ``end_date`` (inclusive) cut on the ``date``
        partition value in the same file selection, BEFORE the merge — a
        dashboard's "last 7 days" panel then hands Spark 7 dates' files,
        not the table's."""
        keys = DIMENSIONS[dim]
        tbl = self.rollup
        lo, hi = (None if d is None else _iso_date(d) for d in (start_date, end_date))

        def region(pv: dict[str, str]) -> bool:
            return (
                pv["tier"] == tier
                and pv["dim"] == dim
                and (lo is None or pv["date"] >= lo)
                and (hi is None or pv["date"] <= hi)
            )

        df = dim_slice(tbl.read(spark, where=region), DIMENSIONS, dim)
        snap = tbl.snapshot()
        if snap is not None and tier in (snap.summary or {}).get("finalized", ()):
            final = df.select("bucket_start", *keys, *AGG_COL_NAMES)
        else:
            final = df.groupBy("bucket_start", *keys).agg(*_merge_aggs())
        if gap_filled:
            final = gapfill(final, tier, keys)
        return final

    def finalize(
        self,
        spark: SparkSession,
        tiers: list[str] | None = None,
        dates: list | None = None,
    ) -> dict[str, object]:
        """Collapse accumulated per-batch partials into ONE finalized row
        per (bucket, series) — the MERGE-INTO analogue for append /
        streaming mode (VERDICT r02 next-round #2).  Atomic + idempotent:
        the listed tiers (default: all) are rewritten in a single
        ``overwrite_where`` snapshot whose ``finalized`` summary lists
        them — :meth:`read_rollup` of a listed tier then skips the merge
        aggregate entirely; a later ``append`` snapshot (new micro-batch)
        lists nothing and the read-side merge resumes, so finalize can run
        on any cadence (e.g. hourly) while the stream keeps flowing.
        Rows of unlisted tiers are left untouched.

        Rows merge per (tier, bucket_start, dim, series keys); partition
        columns are re-derived from the merged series: ``date =
        to_date(bucket_start)`` (exact — tier truncation never crosses a
        date) and ``conv_bucket`` from ``conv_id`` for the conv dimension
        (identical to ``unit_cols``); cross-bucket series (global / tool)
        collapse to bucket 0 — they no longer belong to a single ingest
        unit, and retention (the only consumer of the partition layout
        besides pruning) cuts on ``date`` alone.

        Scale note: the rewrite touches tier-sized data only (never raw) —
        at 100 TB raw a 1m tier is ~10⁻³ of it — and ``dates`` bounds it
        further: ``finalize(dates=[...])`` is the **incremental** variant
        that merges and atomically replaces ONLY the listed date
        partitions of the listed tiers (one snapshot, delete + add
        together; date-filtered reads are partition-pruned scans).
        A steady-state deployment finalizes yesterday's date once the
        stream's watermark passes midnight and never rewrites it again.
        Incremental runs record ``finalize_dates`` instead of
        ``finalized`` (older dates may still hold multiple partials), so
        reads keep the merging path — just over collapsed row counts.

        The read and the commit cover one region: the files the merge
        reads are exactly the files the snapshot removes.  Superseded
        files stay on disk until :meth:`TableIO.vacuum`, so readers
        pinned to older snapshots keep working (Iceberg's two-phase
        ``expire_snapshots``).

        Returns the commit per table (``{}`` when the table is empty).
        """
        tiers = list(tiers or self.cfg.tiers)
        tbl = self.rollup
        if not tbl.exists():
            return {}
        if dates is None:
            dset = None
            summary = {"finalized": tiers}
        else:
            dset = sorted({_iso_date(d) for d in dates})
            summary = {"finalize_dates": {t: dset for t in tiers}}

        def region(pv: dict[str, str]) -> bool:
            return pv["tier"] in tiers and (dset is None or pv["date"] in dset)

        src = tbl.read(spark, where=region)
        series_keys = list(dict.fromkeys(k for ks in DIMENSIONS.values() for k in ks))
        conv_bucket = conv_bucket_col(self.cfg.conv_buckets)
        merged = (
            src.groupBy("tier", "bucket_start", "dim", *series_keys)
            .agg(*_merge_aggs())
            .withColumn("date", F.to_date("bucket_start"))
            .withColumn(
                "conv_bucket",
                F.when(F.col("dim") == "conv", conv_bucket).otherwise(F.lit(0)),
            )
        )
        return {ROLLUP_TABLE: tbl.overwrite_where(merged, region, summary=summary)}

    def invalidated_dates(self, tiers: list[str] | None = None) -> dict[str, list[str]]:
        """Per tier: the ``date`` partitions whose logical content changed
        since that tier's last finalize — the continuous-aggregate
        *invalidation log*, derived purely from the snapshot history
        (Iceberg-style incremental scan) with no side table to maintain.

        Each tier's watermark is its last FULL finalize (a snapshot whose
        ``finalized`` summary lists it; v0 if none).  Walking the log
        forward from the oldest watermark: data-changing snapshots
        (appends / partition overwrites) mark every ``date=`` partition
        they add files under as dirty for the file's ``tier=``; a full
        finalize clears its tiers; an *incremental* finalize
        (``finalize_dates`` summary) clears exactly the (tier, date)
        pairs it merged; compaction rewrites (``compaction`` summary)
        move bytes, not rows, and mark nothing.  Linear snapshot history
        makes this exact: a date is returned iff some row-changing commit
        touched it after the last finalize that covered it.

        A never-finalized tier reports every date it holds — a cagg's
        first refresh materializes everything, which is the TimescaleDB
        semantic too.
        """
        tbl = self.rollup
        dirty: dict[str, set[str]] = {t: set() for t in tiers or self.cfg.tiers}
        log, open_tiers = [], set(dirty)
        for v in range(tbl.current_version(), 0, -1):
            if not open_tiers:
                break
            log.append(s := tbl.snapshot(v))
            open_tiers.difference_update((s.summary or {}).get("finalized", ()))
        for s in reversed(log):
            sm = s.summary or {}
            for t in sm.get("finalized", ()):
                dirty.get(t, set()).clear()
            for t, ds in sm.get("finalize_dates", {}).items():
                dirty.get(t, set()).difference_update(ds)
            if sm.keys() & {"finalized", "finalize_dates", "compaction"}:
                continue
            for pv in map(partition_values, s.added_files):
                if pv["tier"] in dirty:
                    dirty[pv["tier"]].add(pv["date"])
        return {t: sorted(ds) for t, ds in dirty.items() if ds}

    def refresh_invalidated(self, spark: SparkSession) -> dict[str, list[str]]:
        """Refresh the continuous aggregates: incrementally re-finalize
        ONLY the date partitions invalidated since each tier's last
        finalize (:meth:`invalidated_dates`), in one :meth:`finalize` —
        one atomic ``overwrite_where`` snapshot over the invalidated
        tiers × dates.  The finalize commit itself advances the
        invalidation watermark, so the operation is idempotent and
        crash-safe with no separate log to ack: killed before the commit,
        a rerun re-merges the same dates; run twice, the second pass sees
        no dirty dates and is a no-op.  This is the scheduled-cagg-refresh
        analogue — at 100 TB the steady-state cost is proportional to the
        *late* data's date spread, never to table size."""
        inv = self.invalidated_dates()
        if inv:
            dates = sorted({d for ds in inv.values() for d in ds})
            self.finalize(spark, tiers=list(inv), dates=dates)
        return inv

    def compact(self, spark: SparkSession, min_files: int = 2) -> dict[str, int]:
        """Small-file hygiene across every engine table: rewrite each
        logical partition holding ≥ ``min_files`` data files into one
        (``TableIO.compact`` / Iceberg ``rewrite_data_files``).  Streaming
        append mode needs this on a cadence — each micro-batch adds its
        own files, and a month of 1-minute triggers is ~43k files per
        table without it.  Complements :meth:`finalize`: compact merges
        FILES (bytes layout), finalize merges ROWS (partials).  Returns
        files-rewritten per table (0 = nothing needed)."""
        out: dict[str, int] = {}
        for name, tbl in self.tables.items():
            snap = tbl.compact(spark, min_files=min_files)
            out[name] = int((snap.summary or {}).get("compaction", 0)) if snap else 0
        return out

    # -- retention ------------------------------------------------------------

    def _retention(self, retention_days: dict[str, int], as_of: dt.date):
        """Tier → the first ``date`` partition kept, and the predicate on
        a file's hive partition values that expires the rest."""
        for tier in retention_days:
            if tier not in self.cfg.tiers:
                raise ValueError(f"unknown tier {tier!r}")
        cutoffs = {t: (as_of - dt.timedelta(days=d)).isoformat() for t, d in retention_days.items()}
        return cutoffs, lambda pv: pv["tier"] in cutoffs and pv["date"] < cutoffs[pv["tier"]]

    def apply_retention(
        self,
        retention_days: dict[str, int],
        as_of: dt.date,
    ) -> dict[str, int]:
        """Tiered retention (the downsample-then-expire contract of a
        TSDB: raw/fine tiers age out first, coarse tiers live longest —
        the Prometheus scrape-tier retention ladder of SURVEY.md §2 C8
        made explicit).  ``retention_days`` maps tier → days kept; a tier
        absent from the map is kept forever.

        Expiry is ONE *metadata-only* partition drop for every tier
        (TableIO.delete_partitions on the ``tier`` and ``date`` partition
        columns — no data rewritten, O(partitions) driver work);
        ``self.rollup.vacuum()`` reclaims the bytes.  Returns files
        expired per tier; a pass that expires nothing commits no snapshot.
        """
        cutoffs, expired = self._retention(retention_days, as_of)
        snap = self.rollup.delete_partitions(expired, summary={"retention_cutoff": cutoffs})
        out = dict.fromkeys(cutoffs, 0)
        for f in snap.removed_files if snap else []:
            out[partition_values(f)["tier"]] += 1
        return out

    def retention_report(
        self, retention_days: dict[str, int], as_of: dt.date
    ) -> dict[str, dict]:
        """Dry run of :meth:`apply_retention`: per tier, the exact
        cutoff, the ``date`` partitions that would be dropped, and the
        file count — computed from snapshot metadata only (no data read,
        no commit).  The change-review step an operator runs before
        pointing a new retention ladder at a year of tiers; the
        subsequent ``apply_retention`` removes exactly these files
        (asserted by test)."""
        cutoffs, expired = self._retention(retention_days, as_of)
        doomed: dict[str, list[str]] = {t: [] for t in cutoffs}
        for pv in map(partition_values, self.rollup.files(expired)):
            doomed[pv["tier"]].append(pv["date"])
        return {
            t: {"cutoff": cutoffs[t], "dates": sorted(set(ds)), "n_files": len(ds)}
            for t, ds in doomed.items()
        }

    def read_dead_letter(self, spark: SparkSession) -> DataFrame:
        return self.dead_letter.read(spark)

    def read_metrics(self, spark: SparkSession) -> DataFrame:
        return self.metrics.read(spark, schema=METRICS_SCHEMA)

    def read_lineage(self, spark: SparkSession) -> DataFrame:
        return self.lineage.read(spark, schema=LINEAGE_SCHEMA)
