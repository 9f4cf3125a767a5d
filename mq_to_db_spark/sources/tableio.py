"""TableIO — atomic-commit, snapshot-versioned Parquet tables.

The runtime has no Iceberg jar (SURVEY.md §7), so this is a thin seam
emulating the Iceberg semantics the engine's design depends on:

  * **atomic snapshot commit** — a commit is the atomic replacement of the
    ``_current`` version pointer (``os.replace``), after all data files are
    fully written; readers never observe a half-written table.  This is
    the engine's "broker ack": the reference acknowledges a message only
    after the store succeeds
    (/root/reference/internal/repository/messages.go:131-148); here a
    snapshot exists only after its files do.
  * **snapshot-range incremental reads** — each manifest records the files
    *added* by that snapshot, so ``read_incremental(from, to)`` scans only
    the delta (the AMQP prefetch-window / delivery-batch analogue,
    rmq.go:120-124).
  * **partition overwrite (MERGE-style idempotent upsert)** — a commit may
    atomically replace all files of a set of logical partitions; replaying
    the same batch yields byte-identical table state (effectively-once on
    top of at-least-once reruns).

How a commit's files are produced: every data-adding commit first writes
``df`` into a fresh ``_staging/<uuid>`` dir, then publishes those files
and commits the manifest.  A frame small by Spark's own measure (its
optimized plan's size estimate within ``spark.sql.autoBroadcastJoinThreshold``,
the size under which Spark broadcasts a relation) is collected as Arrow
batches in one Spark job and written by pyarrow, one zstd file per
partition directory; this is the ack path's case (a micro-batch's rollup
partials and rejects, a refresh's rewrite).  Rows built on the driver (a
micro-batch's lineage and metrics rows) may be handed over as a
``pyarrow.Table`` instead of a frame: pyarrow writes it with no Spark job
at all.  Hadoop's local file system, which Spark's writer goes through,
starts a ``chmod`` child process of the driver JVM for every file and
directory it creates (pip PySpark ships no native Hadoop library), and
that, not parquet encoding, was most of a small commit's time.  Larger frames, which must not be held in driver
memory, keep Spark's writer.  Both name the partition directories alike
(:func:`partition_dir`), so predicates and partition overwrites compare
them across commits.  A failed staging removes its dir.

On a real cluster this class is swapped for
``sources.iceberg.IcebergTableIO`` (same interface, jar-gated —
``df.writeTo(tbl).overwritePartitions()`` / snapshot-range reads) via
``RollupPipeline(table_factory=...)``; the pipeline only touches this
interface.  File moves use ``os.replace``
within one filesystem — on object storage the same scheme works with
copy+manifest (the manifest, not the directory listing, defines the
table, exactly as Iceberg does).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.functions import col as F_col

from mq_to_db_spark.session import local_frame
from mq_to_db_spark.sources.store import LocalAtomicStore


#: partition column types whose directory names :func:`partition_dir`
#: spells as Spark's writer does (``str`` of the value, ISO dates)
_ARROW_PARTITION_TYPES = (
    T.StringType, T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DateType,
)

#: the characters Spark %-escapes in a partition directory name
#: (``ExternalCatalogUtils.escapePathName``); it leaves spaces and
#: non-ASCII characters as they are
_ESCAPED = frozenset([*map(chr, range(1, 32)), *"\"#%'*/:=?[\\]^{", "\x7f"])


def _escape(s: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in s)


def partition_dir(col: str, value) -> str:
    """The directory Spark's writer names for ``col = value``: escaped
    name and value, and ``__HIVE_DEFAULT_PARTITION__`` for a null or
    empty value (which both read back as null)."""
    v = "" if value is None else str(value)
    return f"{_escape(col)}={_escape(v) if v else '__HIVE_DEFAULT_PARTITION__'}"


def partition_values(rel_path: str) -> dict[str, str]:
    """Hive partition values encoded in a file's directory path,
    e.g. ``date=2025-01-03/conv_bucket=7/part-0.parquet`` →
    ``{"date": "2025-01-03", "conv_bucket": "7"}``."""
    out: dict[str, str] = {}
    for part in rel_path.split(os.sep)[:-1]:
        if "=" in part:
            k, v = part.split("=", 1)
            out[k] = v
    return out


@dataclass
class Snapshot:
    version: int
    snapshot_id: str
    parent_id: str | None
    committed_at: float
    operation: str
    added_files: list[str]
    removed_files: list[str]
    all_files: list[str]
    summary: dict
    #: the columns a read returns (``StructType.jsonValue``): a read of a
    #: file subset keeps the table's types, where Spark would infer them
    #: from the subset's hive values (``tier=1d`` alone reads as a double)
    schema: dict | None = None

    def select(self, where=None) -> list[str]:
        """The files whose hive values satisfy ``where`` (all if None)."""
        return [f for f in self.all_files if where is None or where(partition_values(f))]


class TableIO:
    """One versioned table rooted at ``path``."""

    def __init__(
        self,
        path: str,
        partition_cols: list[str] | None = None,
        store: LocalAtomicStore | None = None,
    ):
        """``store`` is the AtomicStore holding this table's metadata and
        data objects (default: a :class:`LocalAtomicStore` rooted at
        ``path``) — swap it for an object-store implementation without
        touching any table or pipeline logic."""
        self.path = path
        self.partition_cols = list(partition_cols or [])
        self.store = store or LocalAtomicStore(path)
        self.data_dir = self.store.uri("data")
        os.makedirs(self.data_dir, exist_ok=True)
        self._batch_ids: set[str] | None = None

    # -- snapshot bookkeeping -------------------------------------------------

    def current_version(self) -> int:
        if not self.store.exists("_current"):
            return 0
        return int(self.store.read_text("_current").strip())

    def snapshot(self, version: int | None = None) -> Snapshot | None:
        v = self.current_version() if version is None else version
        if v == 0:
            return None
        return Snapshot(**json.loads(self.store.read_text(f"_manifests/v{v:08d}.json")))

    def exists(self) -> bool:
        return self.current_version() > 0

    def batch_ids(self) -> set[str]:
        """Every ``batch_id`` recorded in a snapshot summary — the
        idempotent-append ledger (Iceberg analogue: scan snapshot
        summaries).  Lazily scanned once per TableIO instance, updated on
        each local commit."""
        if self._batch_ids is None:
            ids: set[str] = set()
            for v in range(1, self.current_version() + 1):
                s = self.snapshot(v)
                b = (s.summary or {}).get("batch_id") if s else None
                if b:
                    ids.add(b)
            self._batch_ids = ids
        return self._batch_ids

    def files(self, where=None, version: int | None = None) -> list[str]:
        """The files of a snapshot (default: current) whose hive values
        satisfy ``where`` (a ``dict[str, str] -> bool`` callable over
        :func:`partition_values`; None: every file) — the selection behind
        every read and every commit that removes files."""
        snap = self.snapshot(version)
        return snap.select(where) if snap else []

    def has_batch(self, batch_id: str) -> bool:
        """True when a committed snapshot already carries ``batch_id`` —
        the guard that makes per-batch appends idempotent under crash
        replay (a replayed micro-batch skips tables it already reached,
        closing the commit-then-crash-before-ack double-count window)."""
        return batch_id in self.batch_ids()

    # -- write paths ----------------------------------------------------------

    def _stage(self, df) -> tuple[str, list[str], dict]:
        """Write ``df`` to a fresh staging dir; return (root, relative
        files, read schema).  ``df`` is a DataFrame, or driver-side rows
        as a ``pyarrow.Table`` (``session.arrow_rows``), which pyarrow
        writes with no Spark job at all.  A frame Spark itself would pull
        into the driver goes through Arrow too (:meth:`_stage_arrow`), any
        other through Spark's writer; either way a failure removes the dir
        before it propagates."""
        import pyarrow as pa

        stage = os.path.join(self.path, "_staging", uuid.uuid4().hex)
        if isinstance(df, pa.Table):
            from pyspark.sql.pandas.types import from_arrow_schema

            schema, table = from_arrow_schema(df.schema), df
            if not self._arrow_partitions(schema):
                raise ValueError(f"{self.partition_cols}: a partition type Arrow staging cannot name")
        else:
            schema, table = df.schema, None
        try:
            if table is None and self._driver_sized(df):
                table = df.toArrow()
            rels = self._stage_spark(df, stage) if table is None else self._stage_arrow(table, stage)
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise
        data = [f for f in schema if f.name not in self.partition_cols]
        schema = T.StructType(data + [schema[c] for c in self.partition_cols])
        return stage, rels, schema.jsonValue()

    def _arrow_partitions(self, schema: T.StructType) -> bool:
        """True when every partition column has a type
        :func:`partition_dir` spells as Spark's writer does."""
        types = [schema[c].dataType for c in self.partition_cols]
        return all(isinstance(t, _ARROW_PARTITION_TYPES) for t in types)

    def _driver_sized(self, df: DataFrame) -> bool:
        """True when Spark's size estimate of ``df``'s optimized plan is
        within ``spark.sql.autoBroadcastJoinThreshold`` (the test Spark
        applies before pulling a relation into the driver) and the
        partition columns suit :meth:`_stage_arrow`."""
        if not self._arrow_partitions(df.schema):
            return False
        limit = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        return 0 <= size <= limit

    def _stage_arrow(self, table, stage: str) -> list[str]:
        """pyarrow writes ``table`` (a ``pyarrow.Table``; a frame's comes
        from one ``toArrow`` job) as one zstd file per partition
        directory."""
        import pyarrow.parquet as pq

        groups: dict[str, list[int] | None] = {"": None}
        if self.partition_cols:
            names = []
            for c in self.partition_cols:
                values = table.column(c).to_pylist()
                name = {v: partition_dir(c, v) for v in set(values)}
                names.append([name[v] for v in values])
            groups = {}
            for i, dirs in enumerate(zip(*names)):
                groups.setdefault(os.path.join(*dirs), []).append(i)
            table = table.drop_columns(self.partition_cols)
        rels = []
        for d, rows in groups.items():
            os.makedirs(os.path.join(stage, d), exist_ok=True)
            rel = os.path.join(d, "part-00000.zstd.parquet")
            part = table if rows is None else table.take(rows)
            pq.write_table(part, os.path.join(stage, rel), compression="zstd")
            rels.append(rel)
        return rels

    def _stage_spark(self, df: DataFrame, stage: str) -> list[str]:
        """Spark's parquet writer: one file per task and partition."""
        writer = df.write.mode("overwrite")
        if self.partition_cols:
            writer = writer.partitionBy(*self.partition_cols)
        writer.parquet(stage)
        return [
            os.path.relpath(os.path.join(root, fn), stage)
            for root, _dirs, files in os.walk(stage)
            for fn in files
            if fn.endswith(".parquet")
        ]

    def _commit(self, operation: str, added: list, removed: list, summary: dict, schema=None) -> Snapshot:
        parent = self.snapshot()
        prev_files = parent.all_files if parent else []
        removed_set = set(removed)
        all_files = [f for f in prev_files if f not in removed_set] + added
        v = (parent.version if parent else 0) + 1
        snap = Snapshot(
            version=v,
            snapshot_id=uuid.uuid4().hex,
            parent_id=parent.snapshot_id if parent else None,
            committed_at=time.time(),
            operation=operation,
            added_files=added,
            removed_files=removed,
            all_files=all_files,
            summary=summary,
            schema=schema or (parent.schema if parent else None),
        )
        self.store.write_text_atomic(f"_manifests/v{v:08d}.json", json.dumps(snap.__dict__))
        # the atomic commit point:
        self.store.write_text_atomic("_current", str(v))
        b = summary.get("batch_id")
        if b and self._batch_ids is not None:
            self._batch_ids.add(b)
        return snap

    def _write(self, operation: str, staged: tuple, removed: list[str], summary) -> Snapshot:
        """Publish staged files into data/ through the AtomicStore and
        commit them in one snapshot that also drops ``removed`` — the
        stage-publish-commit step of every commit that adds data."""
        stage, rels, schema = staged
        prefix = uuid.uuid4().hex[:8]
        added = []
        try:
            for rel in rels:
                # keep partition dirs (they encode partition values), uniquify
                # the leaf name so concurrent/replayed commits never collide.
                d, leaf = os.path.split(rel)
                new_rel = os.path.join(d, f"{prefix}-{leaf}")
                self.store.publish_file(
                    os.path.join(stage, rel), "data/" + new_rel.replace(os.sep, "/")
                )
                added.append(new_rel)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return self._commit(operation, added, removed, summary or {}, schema)

    def append(self, df: DataFrame, summary: dict | None = None) -> Snapshot:
        return self._write("append", self._stage(df), [], summary)

    def overwrite_partitions(self, df: DataFrame, summary: dict | None = None) -> Snapshot:
        """Dynamic partition overwrite: atomically replace every logical
        partition present in ``df`` (Iceberg ``overwritePartitions``).
        Requires ``partition_cols``."""
        if not self.partition_cols:
            raise ValueError("overwrite_partitions requires partition_cols")
        staged = self._stage(df)
        touched = {tuple(partition_values(r).values()) for r in staged[1]}
        removed = self.files(lambda pv: tuple(pv.values()) in touched)
        return self._write("overwrite_partitions", staged, removed, summary)

    def overwrite_all(self, df: DataFrame, summary: dict | None = None) -> Snapshot:
        return self._write("overwrite_all", self._stage(df), self.files(), summary)

    def overwrite_where(self, df, predicate, summary: dict | None = None) -> Snapshot:
        """Atomic replace-where (Iceberg ``overwrite(condition)``): ONE
        snapshot removes the files ``predicate`` selects (see
        :meth:`files`) AND adds ``df``'s files.  The caller guarantees
        ``df`` holds the full replacement row-set for the matched region
        — this is the incremental-finalization primitive (rewrite only
        the partitions whose partial count grew, not the whole table)."""
        return self._write("overwrite_where", self._stage(df), self.files(predicate), summary)

    def delete_partitions(self, predicate, summary: dict | None = None) -> Snapshot | None:
        """Metadata-only partition drop (retention expiry — the Iceberg
        ``DROP PARTITION`` / delete-where-on-partition-cols analogue):
        the files ``predicate`` selects (see :meth:`files`) leave the new
        snapshot; no data is rewritten or touched.  Physical bytes are
        reclaimed later by :meth:`vacuum` — the same two-phase shape as
        Iceberg ``expire_snapshots`` + orphan-file cleanup, so a reader
        pinned to an older snapshot keeps working until vacuum.  Returns
        None, and commits nothing, when no file matches."""
        removed = self.files(predicate)
        if not removed:
            return None
        return self._commit("delete_partitions", [], removed, summary or {})

    def compact(self, spark: SparkSession, min_files: int = 2) -> Snapshot | None:
        """Rewrite every logical partition holding ≥ ``min_files`` data
        files into one file — the small-file compaction a streaming
        append workload needs (each micro-batch appends its own partial
        files; thousands of batches → thousands of tiny files per
        partition and scan-planning death at 100 TB).  The rewrite is a
        normal atomic snapshot commit: readers pinned to older snapshots
        keep working until :meth:`vacuum` (Iceberg's ``rewrite_data_files``
        contract).  Returns None when nothing needs compacting."""
        per_part = Counter(tuple(partition_values(f).values()) for f in self.files())
        doomed = {k for k, n in per_part.items() if n >= min_files}
        if not doomed:
            return None
        df = self.read(spark, where=lambda pv: tuple(pv.values()) in doomed)
        summary = {"compaction": sum(per_part[k] for k in doomed)}
        if self.partition_cols:
            # hash-partition on the partition cols → all rows of one
            # logical partition land in one task → one output file each
            df = df.repartition(*[F_col(c) for c in self.partition_cols])
            return self.overwrite_partitions(df, summary=summary)
        # unpartitioned table: single-file rewrite of everything
        return self.overwrite_all(df.coalesce(1), summary=summary)

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Physically delete data files unreferenced by the newest
        ``keep_versions`` snapshots; returns their relative paths.
        Time-travel to vacuumed snapshots is no longer valid (exactly
        Iceberg's ``expire_snapshots`` contract)."""
        cur = self.current_version()
        keep: set[str] = set()
        for v in range(max(1, cur - keep_versions + 1), cur + 1):
            s = self.snapshot(v)
            if s:
                keep.update(s.all_files)
        deleted = []
        for key in self.store.list("data"):
            rel = key[len("data/"):]
            if rel.endswith(".parquet") and rel not in keep:
                self.store.delete(key)
                deleted.append(rel)
        return deleted

    # -- read paths -----------------------------------------------------------

    def _read_files(self, spark: SparkSession, files: list[str], schema, snap) -> DataFrame:
        if schema is None and snap and snap.schema:
            schema = T.StructType.fromJson(snap.schema)
        if not files:
            if schema is None:
                raise ValueError("empty table and no schema given")
            return local_frame(spark, [], schema)
        paths = [os.path.join(self.data_dir, f) for f in files]
        reader = spark.read.option("basePath", self.data_dir)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def read(
        self, spark: SparkSession, version: int | None = None, schema=None, *, where=None
    ) -> DataFrame:
        """Scan the table at a snapshot (default: current), handing Spark
        only the files ``where`` selects (see :meth:`files`).  Partition
        columns come back as real columns (hive-style dirs + basePath).
        When ``where`` matches nothing the frame is empty but keeps the
        table's columns."""
        snap = self.snapshot(version)
        return self._read_files(spark, snap.select(where) if snap else [], schema, snap)

    def read_incremental(
        self, spark: SparkSession, from_version: int, to_version: int | None = None, schema=None
    ) -> DataFrame:
        """Files *added* in (from_version, to_version] — the delivery-batch
        read.  Note: only valid across append snapshots (like Iceberg's
        incremental scan)."""
        to_v = self.current_version() if to_version is None else to_version
        files: list[str] = []
        for v in range(from_version + 1, to_v + 1):
            snap = self.snapshot(v)
            if snap.operation != "append":
                raise ValueError(
                    f"incremental read across non-append snapshot v{v} ({snap.operation})"
                )
            files.extend(snap.added_files)
        return self._read_files(spark, files, schema, self.snapshot(to_v))
