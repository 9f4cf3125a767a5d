"""Per-layer metrics of a traced run.

Scopes: layer call counts and times (``pipeline.*``, ``tableio.*``,
``store.*``, ``readpath.*``) sum every span of the run, set-up and trace
extras included, because some layers are only reached there (the
dashboard store is ingested in a traced ``analytics_contract`` run's
extras).  ``spark.*`` sums the Spark jobs issued inside the timed ops only,
so it explains ``op_latency_s`` and ``pass_s``.  A layer a workload never
reaches reports 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import spans as sp
from workloads import CONTRACT_QUERIES, PANELS, op_latency

_PIPELINE = ("run", "committed_units", "refresh_invalidated", "invalidated_dates", "finalize")
_TABLE_WRITES = ("append", "overwrite_partitions", "overwrite_where", "overwrite_all", "compact")
_STORE = ("write_text_atomic", "publish_file", "list", "read_text")

#: every per-layer metric: name -> unit
PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "s",
    "pipeline.run.calls": "count",
    "pipeline.run.s": "s",
    "pipeline.run.self_s": "s",
    "pipeline.run.child_s": "s",
    "pipeline.run.residual_s": "s",
    "pipeline.run.spark_jobs": "count",
    "pipeline.committed_units.s": "s",
    "pipeline.committed_units.markers_listed": "count",
    "pipeline.refresh_invalidated.s": "s",
    "pipeline.invalidated_dates.s": "s",
    "pipeline.invalidated_dates.dates": "count",
    "pipeline.finalize.s": "s",
    "ingest.turns_per_s": "turns/s",
    "ingest.points_per_s": "points/s",
    "ingest.redelivery_s": "s",
    "ingest.refresh_p50_s": "s",
    "validate.with_reject_reason.noop_s": "s",
    "validate.shuffle_write_bytes": "bytes",
    "rollup.rollup_multidim.noop_s": "s",
    "rollup.shuffle_write_bytes": "bytes",
    **{f"tableio.{w}.{k}": u for w in _TABLE_WRITES for k, u in (("calls", "count"), ("s", "s"))},
    "tableio.files_added": "count",
    "tableio.manifest_bytes": "bytes",
    "tableio.snapshot.calls": "count",
    "tableio.snapshot.s": "s",
    "tableio.has_batch.s": "s",
    "tableio.read.calls": "count",
    "tableio.read.s": "s",
    "tableio.read.files": "count",
    **{f"store.{w}.{k}": u for w in _STORE for k, u in (("calls", "count"), ("s", "s"))},
    "readpath.query_range.s": "s",
    "readpath.hybrid_read.s": "s",
    "readpath.files_scanned": "count",
    "gapfill.noop_s": "s",
    "compression.decode_chunks_range.noop_s": "s",
    "compression.encode_chunks.s": "s",
    **{f"panel.{p}_s": "s" for p in PANELS},
    **{f"q.{q}_s": "s" for q in CONTRACT_QUERIES},
    **{
        f"spark.{k}": u
        for k, u in (
            ("jobs", "count"),
            ("tasks", "count"),
            ("executor_run_s", "s"),
            ("executor_cpu_s", "s"),
            ("jvm_gc_s", "s"),
            ("shuffle_write_bytes", "bytes"),
            ("shuffle_read_bytes", "bytes"),
            ("shuffle_fetch_wait_s", "s"),
            ("spill_bytes", "bytes"),
            ("driver_gap_s", "s"),
        )
    },
    "trace.op_latency_s": "s",
    "trace.bookkeeping_s": "s",
    "trace.spans": "count",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(tracer, event_log, ops, extras, setup_stats, session_s) -> dict:
    spans = tracer.spans
    kids = sp.children(spans)
    anc = sp.ancestors(spans)
    by_id = {s["id"]: s for s in spans}
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    jobs, executions = sp.parse_event_log(event_log)

    def wall(name):
        return sum(s["t1"] - s["t0"] for s in by_name[name])

    def under(span_ids, name=None):
        """spans (optionally of one name) below any of ``span_ids``"""
        return [s for s in spans if (anc[s["id"]] - {s["id"]}) & span_ids and (name is None or s["name"] == name)]

    v: dict[str, float] = defaultdict(float)
    v["session.get_spark_s"] = session_s
    for m in _PIPELINE:
        v[f"pipeline.{m}.s"] = wall(f"pipeline.{m}")
    runs = by_name["pipeline.run"]
    v["pipeline.run.calls"] = len(runs)
    v["pipeline.run.self_s"] = sum(sp.self_time(s, kids) for s in runs)
    v["pipeline.run.child_s"] = sum(c["t1"] - c["t0"] for s in runs for c in kids.get(s["id"], []))
    # 0 when the direct children nest inside the call without overlapping;
    # anything else is a hole in the span tree
    v["pipeline.run.residual_s"] = abs(v["pipeline.run.s"] - v["pipeline.run.self_s"] - v["pipeline.run.child_s"])
    run_ids = {s["id"] for s in runs}
    v["pipeline.run.spark_jobs"] = sum(1 for j in jobs if j["owner"] is not None and anc[j["owner"]] & run_ids)

    # ingest throughput: timed micro-batches, else the set-up bulk run
    batch_ops = [o for o in ops if o["kind"] == "batch" and o["ok"]]
    if batch_ops:
        roots = {o["span"] for o in batch_ops}
        turns, secs = sum(o["turns"] for o in batch_ops), sum(o["s"] for o in batch_ops)
    else:
        roots = {s["id"] for s in by_name["ingest.bulk"]}
        turns, secs = setup_stats.get("ingest.bulk_turns", 0), wall("ingest.bulk")
    points = sum(s.get("rows", 0) for s in under(roots) if s["name"].startswith("tableio."))
    if secs:
        v["ingest.turns_per_s"] = turns / secs
        v["ingest.points_per_s"] = points / secs
    v["ingest.redelivery_s"] = wall("ingest.redelivery")
    v["ingest.refresh_p50_s"] = _median([o["s"] for o in ops if o["kind"] == "refresh" and o["ok"]])

    # trace-only extras: noop kernels and the once-per-trace queries
    kjobs = {}
    for name, span in extras.items():
        v[f"{name}_s"] = span["t1"] - span["t0"]
        kjobs[name] = sp.spark_totals(jobs, [span], anc)
    v["validate.shuffle_write_bytes"] = kjobs.get("validate.with_reject_reason.noop", {}).get("shuffle_write_bytes", 0)
    v["rollup.shuffle_write_bytes"] = kjobs.get("rollup.rollup_multidim.noop", {}).get("shuffle_write_bytes", 0)

    for w in (*_TABLE_WRITES, "snapshot", "read"):
        v[f"tableio.{w}.calls"] = len(by_name[f"tableio.{w}"])
        v[f"tableio.{w}.s"] = wall(f"tableio.{w}")
    v["tableio.has_batch.s"] = wall("tableio.has_batch")
    v["tableio.files_added"] = tracer.counters["tableio.files_added"]
    v["tableio.manifest_bytes"] = tracer.counters["tableio.manifest_bytes"]
    v["tableio.read.files"] = sum(s.get("files", 0) for s in by_name["tableio.read"])
    for w in _STORE:
        v[f"store.{w}.calls"] = len(by_name[f"store.{w}"])
        v[f"store.{w}.s"] = wall(f"store.{w}")
    v["pipeline.committed_units.markers_listed"] = tracer.counters["pipeline.committed_units.markers_listed"]
    v["pipeline.invalidated_dates.dates"] = tracer.counters["pipeline.invalidated_dates.dates"]

    v["readpath.query_range.s"] = wall("readpath.query_range")
    v["readpath.hybrid_read.s"] = wall("readpath.hybrid_read")
    panel_ids = {span["id"] for name, span in extras.items() if name.startswith("panel.")}
    v["readpath.files_scanned"] = sum(
        e["files_read"] for e in executions if e["owner"] is not None and anc.get(e["owner"], set()) & panel_ids
    )
    v["compression.encode_chunks.s"] = wall("compression.encode_chunks")
    lat = defaultdict(list)
    for o in ops:
        if o["kind"] == "query" and o["ok"]:
            lat[o["name"]].append(o["s"])
    for name, xs in lat.items():
        v[f"{name}_s"] = _median(xs)

    op_spans = [by_id[o["span"]] for o in ops if o["ok"]]
    for k, x in sp.spark_totals(jobs, op_spans, anc).items():
        v[f"spark.{k}"] = x

    v["trace.op_latency_s"] = op_latency(ops)
    v["trace.bookkeeping_s"] = tracer.bookkeeping_s
    v["trace.spans"] = len(spans)
    return {name: {"value": float(v.get(name, 0.0)), "unit": unit} for name, unit in PER_LAYER.items()}
