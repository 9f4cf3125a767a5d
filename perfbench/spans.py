"""Traced runs: benchmark-side spans around the package's public calls,
plus a stdlib parser of Spark's event log.

Spans live in memory (one list per :class:`Tracer`) and are written out
once, at exit.  Every span that can launch Spark jobs tags them with
``SparkContext.setJobDescription("pb#<span id>")``, so each job in the event
log can be charged to the innermost span that issued it (and, through the
parent ids, to every enclosing layer).

Nothing in the package is edited: :func:`install` swaps attributes on the
package's classes and modules for wrappers and returns a function that
puts the originals back.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict

DESC_PREFIX = "pb#"


class Tracer:
    """Spans of one traced run; ``sc`` is the SparkContext whose job
    descriptions carry the span ids."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.bookkeeping_s = 0.0
        self.counters: dict[str, float] = defaultdict(float)

    def _tag(self, owner: int | None):
        """Jobs submitted from now on are charged to span ``owner``."""
        self.sc.setJobDescription(None if owner is None else f"{DESC_PREFIX}{owner}")

    def open(self, name: str, tag_jobs: bool = False) -> dict:
        b0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        sid = len(self.spans)
        span = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "name": name,
            "tagged": tag_jobs,
            # the span whose tag this span's jobs carry: itself, or the
            # nearest tagged ancestor
            "job_owner": sid if tag_jobs else (parent["job_owner"] if parent else None),
        }
        self.spans.append(span)
        self.stack.append(span)
        if tag_jobs:
            self._tag(sid)
        b1 = time.perf_counter()
        span["t0"] = time.time()
        self.bookkeeping_s += b1 - b0
        return span

    def close(self, span: dict) -> None:
        t1 = time.time()
        b0 = time.perf_counter()
        span["t1"] = t1
        self.stack.pop()
        if span["tagged"]:
            self._tag(self.stack[-1]["job_owner"] if self.stack else None)
        self.bookkeeping_s += time.perf_counter() - b0

    @contextlib.contextmanager
    def span(self, name: str, tag_jobs: bool = True):
        s = self.open(name, tag_jobs)
        try:
            yield s
        finally:
            self.close(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": dict(self.counters)}, f)


class NullTracer:
    """Untraced runs: ``span`` costs one no-op context manager."""

    def span(self, name: str, tag_jobs: bool = True):
        return contextlib.nullcontext()


def _wrap(tracer: Tracer, fn, name: str, tag_jobs: bool, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        span = tracer.open(name, tag_jobs)
        try:
            out = fn(*args, **kwargs)
        finally:
            tracer.close(span)
        if after is not None:
            b0 = time.perf_counter()
            after(tracer, span, args, kwargs, out)
            tracer.bookkeeping_s += time.perf_counter() - b0
        return out

    return wrapper


def install(tracer: Tracer):
    """Wrap the public entry points of every layer the benchmark drives.
    Returns an ``uninstall()`` callable."""
    import pyarrow.parquet as pq

    from mq_to_db_spark.plans import pipeline, readpath
    from mq_to_db_spark.sources import store, tableio

    orig_snapshot = tableio.TableIO.snapshot
    orig_list = store.LocalAtomicStore.list

    def count_added(tr, span, args, kwargs, snap):
        if snap is None:
            return
        tr.counters["tableio.files_added"] += len(snap.added_files)
        table = args[0]
        if os.path.basename(table.path).startswith("rollup_"):
            # tier points committed, from the parquet footers
            span["rows"] = sum(
                pq.ParquetFile(os.path.join(table.data_dir, f)).metadata.num_rows
                for f in snap.added_files
            )

    def count_read_files(tr, span, args, kwargs, df):
        self = args[0]
        version = kwargs.get("version", args[2] if len(args) > 2 else None)
        snap = orig_snapshot(self, version)
        span["files"] = len(snap.all_files) if snap else 0

    def count_manifest(tr, span, args, kwargs, out):
        key, text = args[1], args[2]
        if key.startswith("_manifests/"):
            tr.counters["tableio.manifest_bytes"] += len(text)

    def count_markers(tr, span, args, kwargs, out):
        tr.counters["pipeline.committed_units.markers_listed"] += len(orig_list(args[0].markers))

    def count_dates(tr, span, args, kwargs, out):
        tr.counters["pipeline.invalidated_dates.dates"] += sum(len(v) for v in out.values())

    targets = [
        # (owner, attribute, span name, tags spark jobs, post-hook)
        (pipeline.RollupPipeline, "run", "pipeline.run", True, None),
        (pipeline.RollupPipeline, "committed_units", "pipeline.committed_units", False, count_markers),
        (pipeline.RollupPipeline, "refresh_invalidated", "pipeline.refresh_invalidated", True, None),
        (pipeline.RollupPipeline, "invalidated_dates", "pipeline.invalidated_dates", False, count_dates),
        (pipeline.RollupPipeline, "finalize", "pipeline.finalize", True, None),
        (pipeline.RollupPipeline, "read_rollup", "pipeline.read_rollup", True, None),
        (tableio.TableIO, "append", "tableio.append", True, count_added),
        (tableio.TableIO, "overwrite_partitions", "tableio.overwrite_partitions", True, count_added),
        (tableio.TableIO, "overwrite_where", "tableio.overwrite_where", True, count_added),
        (tableio.TableIO, "overwrite_all", "tableio.overwrite_all", True, count_added),
        (tableio.TableIO, "compact", "tableio.compact", True, None),
        (tableio.TableIO, "snapshot", "tableio.snapshot", False, None),
        (tableio.TableIO, "has_batch", "tableio.has_batch", False, None),
        (tableio.TableIO, "read", "tableio.read", True, count_read_files),
        (store.LocalAtomicStore, "write_text_atomic", "store.write_text_atomic", False, count_manifest),
        (store.LocalAtomicStore, "publish_file", "store.publish_file", False, None),
        (store.LocalAtomicStore, "list", "store.list", False, None),
        (store.LocalAtomicStore, "read_text", "store.read_text", False, None),
        (readpath.TierReader, "query_range", "readpath.query_range", True, None),
        (readpath, "hybrid_read", "readpath.hybrid_read", True, None),
    ]
    saved = []
    for owner, attr, name, tag, after in targets:
        fn = owner.__dict__[attr]
        saved.append((owner, attr, fn))
        setattr(owner, attr, _wrap(tracer, fn, name, tag, after))

    def uninstall():
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)

    return uninstall


# -- span arithmetic ----------------------------------------------------------


def _union(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def children(spans):
    out = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]].append(s)
    return out


def self_time(span, kids) -> float:
    """Wall time minus the part covered by child spans."""
    return (span["t1"] - span["t0"]) - _union(
        (max(c["t0"], span["t0"]), min(c["t1"], span["t1"])) for c in kids.get(span["id"], [])
    )


def ancestors(spans):
    """span id -> set of its own and every ancestor's id."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        chain, cur = set(), s
        while cur is not None:
            chain.add(cur["id"])
            cur = by_id.get(cur["parent"])
        out[s["id"]] = chain
    return out


# -- Spark event log ----------------------------------------------------------


_SQL_UI = "org.apache.spark.sql.execution.ui."
#: the driver-side metric of a file scan node: files left after partition
#: pruning
FILES_READ = "number of files read"


def _owner(desc: str | None) -> int | None:
    desc = desc or ""
    return int(desc[len(DESC_PREFIX):]) if desc.startswith(DESC_PREFIX) else None


def _metric_ids(plan: dict, name: str, out: set) -> set:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _metric_ids(child, name, out)
    return out


def parse_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """Reads the uncompressed, non-rolling JSON-lines log Spark writes when
    ``spark.eventLog.compress=false`` and ``rolling.enabled=false``.

    Returns one record per Spark job (owning span id from the ``pb#`` job
    description, submit/complete wall times in s, summed task metrics) and
    one per SQL execution (owning span id, files its scans read after
    partition pruning)."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    sql: dict[int, dict] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind in (_SQL_UI + "SparkListenerSQLExecutionStart", _SQL_UI + "SparkListenerSQLAdaptiveExecutionUpdate"):
                ex = sql.setdefault(ev["executionId"], {"owner": None, "ids": set(), "values": {}})
                if "description" in ev:
                    ex["owner"] = _owner(ev["description"])
                _metric_ids(ev.get("sparkPlanInfo") or {}, FILES_READ, ex["ids"])
            elif kind == _SQL_UI + "SparkListenerDriverAccumUpdates":
                ex = sql.get(ev["executionId"])
                if ex is not None:
                    # each update carries the metric's current total
                    ex["values"].update({a: v for a, v in ev["accumUpdates"] if a in ex["ids"]})
            elif kind == "SparkListenerJobStart":
                owner = _owner((ev.get("Properties") or {}).get("spark.job.description"))
                jid = ev["Job ID"]
                jobs[jid] = {
                    "owner": owner,
                    "t0": ev["Submission Time"] / 1000.0,
                    "t1": None,
                    "tasks": 0,
                    "executor_run_s": 0.0,
                    "executor_cpu_s": 0.0,
                    "jvm_gc_s": 0.0,
                    "shuffle_write_bytes": 0,
                    "shuffle_read_bytes": 0,
                    "shuffle_fetch_wait_s": 0.0,
                    "spill_bytes": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                rd = m.get("Shuffle Read Metrics", {})
                wr = m.get("Shuffle Write Metrics", {})
                job["tasks"] += 1
                job["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                job["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                job["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                job["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                job["shuffle_fetch_wait_s"] += rd.get("Fetch Wait Time", 0) / 1e3
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    executions = [{"owner": ex["owner"], "files_read": sum(ex["values"].values())} for ex in sql.values()]
    return [j for j in jobs.values() if j["t1"] is not None], executions


SPARK_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "jvm_gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "shuffle_fetch_wait_s",
    "spill_bytes",
)


def spark_totals(jobs: list[dict], roots: list[dict], anc: dict) -> dict:
    """Event-log totals for the jobs issued under the ``roots`` spans
    (by them or any descendant), plus the driver gap: the roots' wall time
    minus the union of their jobs' submit-to-complete intervals, i.e.
    driver-side planning, Python, file moves and manifest JSON."""
    root_ids = {r["id"] for r in roots}
    mine = [j for j in jobs if j["owner"] is not None and anc.get(j["owner"], set()) & root_ids]
    out = {"jobs": len(mine)}
    for k in SPARK_FIELDS:
        out[k] = sum(j[k] for j in mine)
    gap = 0.0
    for r in roots:
        inside = [
            (max(j["t0"], r["t0"]), min(j["t1"], r["t1"]))
            for j in mine
            if r["id"] in anc[j["owner"]] and j["t1"] > r["t0"] and j["t0"] < r["t1"]
        ]
        gap += (r["t1"] - r["t0"]) - _union(inside)
    out["driver_gap_s"] = gap
    return out
