"""The workloads.  Each is closed loop with one client: the next batch or
query is issued when the previous one returns.

A workload object has these phases, called in order by ``run.py``:

* ``setup()`` and ``warm_up()`` - state from the inputs ``loadgen.py``
  wrote; with session start they make up ``setup_s``;
* ``op_cycle()`` - yields the ops of one pass of its fixed sequence; the
  runner times each op and runs ops until ``--seconds`` have passed and at
  least one whole pass has run;
* ``trace_extras()`` - traced runs only, after the timed phase: layers
  the timed ops do not reach, each under its own span;
* ``checks()`` - outside the timed phases, yields ``(name, error)`` pairs
  from comparing the engine's results with independent oracles.

Two workloads fit the time a run may take on 4 cores (about 70 s): every
run pays 9-17 s of session start, and the first ``RollupPipeline.run`` of
a session takes 24-37 s more (cold code paths).
"""

from __future__ import annotations

import datetime as dt
import os
import statistics

import pandas as pd

import loadgen
from oracle import STAT_COLS, Oracle, compare

#: conv buckets of the dashboard store of a traced ``analytics_contract``
#: run; ``ingest_stream`` runs the engine's default ``EngineConfig()`` (32
#: buckets).  At 32 buckets the dashboard set-up (bulk ingest, redelivery,
#: 1h/1d finalize, chunk archive) took 55-70 s on 4 cores, which with the
#: timed queries would take a traced run past the 180 s a run may last.
#: The read path sees the bucket count only as files per date partition of
#: the unfinalized 1m tier.
DASHBOARD_CONV_BUCKETS = 4

#: the timed pass of ``analytics_contract``: the sliding-window queries
#: (Scotty slicing targets), then the 9 frozen headline queries
TIMED_QUERIES = (
    "over_time_1h10m",
    "distinct_over_time_1h10m",
    "quantile_over_time_1h",
    "subquery_maxrate_1h",
    "rollup_1h_value_stats",
    "rollup_1d_cascade",
    "gapfill_1h",
    "percentile_1h",
    "gauge_last_1h",
    "codec_roundtrip_agg",
    "dedup_exact",
    "minhash_pairs",
    "ann_cosine_topk",
)
#: run once per traced run: semdedup takes 5-7 s on 4 cores, which the
#: timed pass cannot afford
TRACE_QUERIES = ("semdedup",)
CONTRACT_QUERIES = TIMED_QUERIES + TRACE_QUERIES

PANELS = ("conv_1h_gf", "global_1m_gf", "tool_6h_range", "global_5m_range", "hybrid_edge")


class Op:
    """One timed operation.  ``fn()`` runs it and returns counts for the
    run record (``turns`` acked by a batch, ``rows`` returned by a query)."""

    def __init__(self, kind: str, name: str, fn):
        self.kind, self.name, self.fn = kind, name, fn


def op_latency(ops: list[dict]) -> float:
    """The typical latency of a run's main ops (batches if it has any,
    else queries): each distinct op's median over the run, then the
    geometric mean over the distinct ops.  For a workload whose main ops
    are all micro-batches this is the median batch latency."""
    kind = "batch" if any(o["kind"] == "batch" for o in ops) else "query"
    by_name: dict[str, list[float]] = {}
    for o in ops:
        if o["kind"] == kind and o["ok"]:
            by_name.setdefault(o["name"], []).append(o["s"])
    if not by_name:
        return 0.0
    return statistics.geometric_mean(statistics.median(xs) for xs in by_name.values())


def _versions(pipe) -> dict[str, int]:
    tables = {**pipe.tables, "dead_letter": pipe.dead_letter, "lineage": pipe.lineage, "job_metrics": pipe.metrics}
    return {n: t.current_version() for n, t in tables.items()}


def _dead_letter_check(spark, pipe, oracle: Oracle, expected: dict[str, int]):
    got = {
        r["reason"]: int(r["count"])
        for r in pipe.read_dead_letter(spark).groupBy("reason").count().collect()
    }
    want = oracle.reject_counts()
    if want != expected:
        return f"oracle rejects {want} != injected {expected}"
    if got != expected:
        return f"dead letter {got} != injected {expected}"
    return None


def _tier_checks(spark, pipe, oracle: Oracle):
    cols = ["bucket_start", "tool", *STAT_COLS]
    got = pipe.read_rollup(spark, "tool", "1h").toPandas()
    yield "tier.tool_1h", compare(got, oracle.tier("1h", ["tool"]), cols)
    got = pipe.read_rollup(spark, "global", "1d").toPandas()
    yield "tier.global_1d", compare(got, oracle.tier("1d", []), cols[:1] + cols[2:])


class IngestStream:
    """Drain a queue of small ``mode="append"`` micro-batches into a store
    with the engine's default configuration, each followed by
    ``refresh_invalidated``.

    On 4 cores a warm batch takes 10-14 s, so a run measures one pass.
    Growing the store further in set-up (say 8 batches, as a long-running
    consumer would have) would add 80-110 s to every run."""

    def __init__(self, ctx):
        self.ctx = ctx
        #: indices of the delivered batches, in delivery order
        self.delivered: list[int] = []
        self.next = 0

    def setup(self):
        from mq_to_db_spark.config import EngineConfig
        from mq_to_db_spark.plans.pipeline import RollupPipeline

        ctx = self.ctx
        d = os.path.join(ctx.inputs, "in")
        self.paths = [os.path.join(d, f) for f in sorted(os.listdir(d))]
        self.pipe = RollupPipeline(os.path.join(ctx.run_dir, "store"), EngineConfig())

    def _take(self) -> int:
        """Index of the next queued batch."""
        i = self.next
        if i >= len(self.paths):
            raise RuntimeError("micro-batch queue exhausted; raise loadgen.STREAM_BATCHES")
        self.next += 1
        return i

    def _deliver(self, i: int, batch_id: str | None = None):
        spark = self.ctx.spark
        return self.pipe.run(
            spark, spark.read.parquet(self.paths[i]), batch_id=batch_id or f"mb{i:04d}", mode="append"
        )

    def warm_up(self):
        """One micro-batch and a refresh: they take the cold start of both
        paths (24-37 s for the session's first batch against 10-14 s warm)
        out of the timed pass, and the refresh finalizes every date so far,
        so the timed refresh rewrites only the dates the timed batch
        touched."""
        i = self._take()
        self._deliver(i)
        self.delivered.append(i)
        self.pipe.refresh_invalidated(self.ctx.spark)

    def op_cycle(self):
        def batch():
            i = self._take()
            rep = self._deliver(i)
            self.delivered.append(i)
            return {"turns": rep.n_in}

        yield Op("batch", "pipeline.run", batch)

        def refresh():
            self.pipe.refresh_invalidated(self.ctx.spark)
            return {}

        yield Op("refresh", "pipeline.refresh_invalidated", refresh)

    def corrupt(self):
        """Commit one queued batch the oracle never sees."""
        self._deliver(self._take(), batch_id="corrupt")

    def checks(self):
        spark = self.ctx.spark
        oracle = Oracle([self.paths[i] for i in self.delivered])
        try:
            before = _versions(self.pipe)
            rep = self._deliver(self.delivered[-1])
            err = None
            if rep.n_units_skipped != rep.n_units_total or _versions(self.pipe) != before:
                err = "replayed micro-batch changed a table"
            yield "redelivery.no_snapshot", err
            expected = {r: n * len(self.delivered) for r, n in loadgen.DIRTY_PER_BATCH.items()}
            yield "dead_letter.by_reason", _dead_letter_check(spark, self.pipe, oracle, expected)
            yield from _tier_checks(spark, self.pipe, oracle)
        finally:
            oracle.close()

    def trace_extras(self):
        return _ingest_kernels(self.ctx.spark, self.paths[0], self.pipe.cfg.conv_buckets)


class DashboardRead:
    """Panel reads over a store of its own: one bulk overwrite ingest and
    its redelivery, 1h/1d finalized (scan path) while the 1m tier keeps its
    per-unit partials (merge path), and an encoded chunk archive."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.results: dict[str, pd.DataFrame] = {}

    def setup(self):
        from mq_to_db_spark.config import EngineConfig
        from mq_to_db_spark.operators.compression import encode_chunks
        from mq_to_db_spark.operators.validate import split_valid_rejected
        from mq_to_db_spark.plans.pipeline import RollupPipeline

        ctx, spark, tr = self.ctx, self.ctx.spark, self.ctx.tracer
        path = os.path.join(ctx.inputs, "in", "bulk.parquet")
        self.paths = [path]
        self.pipe = pipe = RollupPipeline(
            os.path.join(ctx.run_dir, "store"), EngineConfig(conv_buckets=DASHBOARD_CONV_BUCKETS)
        )

        bulk_df = spark.read.parquet(path)
        with tr.span("ingest.bulk"):
            rep = pipe.run(spark, bulk_df, batch_id="bulk", mode="overwrite")
        ctx.setup_stats["ingest.bulk_turns"] = rep.n_in
        self.bulk_versions = _versions(pipe)
        with tr.span("ingest.redelivery"):
            self.redelivery = pipe.run(spark, bulk_df, batch_id="bulk-redelivered", mode="overwrite")
        self.redelivery_versions = _versions(pipe)
        pipe.finalize(spark, tiers=["1h", "1d"])

        valid, _ = split_valid_rejected(bulk_df)
        chunk_dir = os.path.join(ctx.run_dir, "chunks")
        with tr.span("compression.encode_chunks"):
            encode_chunks(valid).write.mode("overwrite").parquet(chunk_dir)
        self.chunks = spark.read.parquet(chunk_dir)

        self.day = dt.date.fromisoformat(ctx.meta["day"])
        d = pd.Timestamp(self.day)
        self.ranges = {
            "tool_6h_range": (d, d + pd.Timedelta(days=1)),
            "global_5m_range": (d + pd.Timedelta(hours=8), d + pd.Timedelta(hours=20)),
            "hybrid_edge": (
                d + pd.Timedelta(hours=6, minutes=17, seconds=23, milliseconds=500),
                d + pd.Timedelta(hours=21, minutes=41, seconds=7, milliseconds=250),
            ),
        }

    def _tiers(self, dim):
        return {t: self.pipe.read_rollup(self.ctx.spark, dim, t) for t in self.pipe.cfg.tiers}

    def panel(self, name: str) -> pd.DataFrame:
        from mq_to_db_spark.plans import readpath

        spark, pipe, day = self.ctx.spark, self.pipe, self.day
        if name == "conv_1h_gf":
            df = pipe.read_rollup(spark, "conv", "1h", gap_filled=True, start_date=day, end_date=day)
        elif name == "global_1m_gf":
            df = pipe.read_rollup(spark, "global", "1m", gap_filled=True, start_date=day, end_date=day)
        elif name == "tool_6h_range":
            t0, t1 = self.ranges[name]
            df = readpath.TierReader(self._tiers("tool"), self.chunks).query_range(t0, t1, 6 * 3600, keys=["tool"])
        elif name == "global_5m_range":
            t0, t1 = self.ranges[name]
            df = readpath.TierReader(self._tiers("global"), self.chunks).query_range(t0, t1, 300)
        else:
            t0, t1 = self.ranges[name]
            df = readpath.hybrid_read(self._tiers("global"), self.chunks, t0.to_pydatetime(), t1.to_pydatetime())
        return df.toPandas()


    def corrupt(self):
        self.results["hybrid_edge"].loc[0, "n_turns"] += 1

    def checks(self):
        spark = self.ctx.spark
        oracle = Oracle(self.paths)
        try:
            err = None
            if self.redelivery.n_units_skipped != self.redelivery.n_units_total:
                err = "redelivery re-processed acked units"
            elif self.redelivery_versions != self.bulk_versions:
                err = "redelivery added a snapshot"
            yield "redelivery.no_snapshot", err
            yield "dead_letter.by_reason", _dead_letter_check(spark, self.pipe, oracle, dict(loadgen.DIRTY_PER_BATCH))
            yield from _tier_checks(spark, self.pipe, oracle)
            on_day = f"ts::DATE = DATE '{self.day}'"
            want = {
                "conv_1h_gf": oracle.gapfilled("1h", ["conv_id"], on_day),
                "global_1m_gf": oracle.gapfilled("1m", [], on_day),
                "tool_6h_range": oracle.grid(*self.ranges["tool_6h_range"], 6 * 3600, "1h", ["tool"]),
                "global_5m_range": oracle.grid(*self.ranges["global_5m_range"], 300, "1m", []),
                "hybrid_edge": oracle.range_total(*self.ranges["hybrid_edge"]),
            }
            for name in PANELS:
                got = self.results.get(name)
                if got is None:
                    yield f"panel.{name}", "never ran"
                    continue
                cols = list(want[name].columns)
                yield f"panel.{name}", compare(got, want[name], cols)
        finally:
            oracle.close()

    def trace_extras(self):
        """The panels in order, then the lazy read-path kernels, each forced
        into Spark's ``noop`` sink on its own."""
        from mq_to_db_spark.operators.compression import decode_chunks_range
        from mq_to_db_spark.operators.gapfill import gapfill

        for name in PANELS:

            def panel(name=name):
                self.results[name] = self.panel(name)

            yield f"panel.{name}", panel
        spark, day = self.ctx.spark, self.day
        g = self.pipe.read_rollup(spark, "global", "1m", start_date=day, end_date=day)
        yield "gapfill.noop", _noop(gapfill(g, "1m"))
        t0 = pd.Timestamp(day) + pd.Timedelta(hours=10)
        yield "compression.decode_chunks_range.noop", _noop(
            decode_chunks_range(self.chunks, t0.to_pydatetime(), (t0 + pd.Timedelta(hours=1)).to_pydatetime())
        )
        yield from _ingest_kernels(spark, self.paths[0], self.pipe.cfg.conv_buckets)


def _noop(df):
    """Force a lazy frame through Spark's ``noop`` sink: all the work of a
    write, none of the I/O."""
    return lambda: df.write.format("noop").mode("overwrite").save()


def _ingest_kernels(spark, path, conv_buckets):
    """Trace-only: validate and the grouping-sets rollup over one input
    batch, each forced on its own."""
    from mq_to_db_spark.operators.rollup import rollup_multidim, with_text_stats
    from mq_to_db_spark.operators.validate import with_reject_reason
    from mq_to_db_spark.plans.pipeline import DIMENSIONS, unit_cols

    tagged = unit_cols(with_reject_reason(spark.read.parquet(path)), conv_buckets)
    yield "validate.with_reject_reason.noop", _noop(tagged)
    valid = tagged.filter("reason IS NULL").drop("reason")
    tiers = rollup_multidim(with_text_stats(valid), DIMENSIONS, extra_group_cols=["conv_bucket", "date"])
    yield "rollup.rollup_multidim.noop", _noop(tiers["1m"].unionByName(tiers["1h"]).unionByName(tiers["1d"]))


class AnalyticsContract:
    """One pass over the contract queries, on seeded tables in the driver's
    schema at sf0.1's row counts, each checked against its
    ``__spark_entry__.oracle_sql()``.  On 4 cores the pass takes 45-56 s,
    10-15 s of it in the session's first query.

    A traced run adds semdedup, then builds the dashboard store and reads
    its panels (:class:`DashboardRead`), so the read-path layers are
    profiled too."""

    def __init__(self, ctx):
        import __spark_entry__

        self.ctx = ctx
        self.names = TIMED_QUERIES
        self.sf_dir = os.path.join(ctx.inputs, "sf")
        self.queries = __spark_entry__.queries()
        self.oracle_sql = __spark_entry__.oracle_sql()
        missing = [q for q in CONTRACT_QUERIES if q not in self.queries or q not in self.oracle_sql]
        if missing:
            raise RuntimeError(f"contract queries missing: {missing}")
        self.results: dict[str, pd.DataFrame] = {}
        self.dashboard: DashboardRead | None = None

    def setup(self):
        """Nothing beyond the session: the queries read the generated
        parquet themselves."""

    def warm_up(self):
        """A grouped aggregate over ``events``, collected through Arrow: it
        takes the session's cold start (without it the first query took
        11-16 s on 4 cores, 3-4x its warm time) out of the timed pass."""
        from pyspark.sql import functions as F

        events = self.ctx.spark.read.parquet(os.path.join(self.sf_dir, "events.parquet"))
        events.groupBy("event_type").agg(F.count("*"), F.sum("value")).toPandas()

    def run_query(self, name: str) -> dict:
        out = self.queries[name](self.ctx.spark, self.sf_dir).toPandas()
        self.results[name] = out
        return {"rows": len(out)}

    def op_cycle(self):
        for name in self.names:
            yield Op("query", f"q.{name}", lambda name=name: self.run_query(name))

    def corrupt(self):
        name = self.names[0]
        self.results[name] = self.results[name].iloc[1:]
        if self.dashboard is not None:
            self.dashboard.corrupt()

    def checks(self):
        """One check per query that returned a result (a query that raised
        was already counted as a failed op)."""
        import duckdb

        con = duckdb.connect()
        try:
            con.sql("SET TimeZone = 'UTC'")
            for t in ("events", "documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for name, got in self.results.items():
                try:
                    want = con.sql(self.oracle_sql[name]).df()
                except duckdb.Error as e:
                    yield f"q.{name}", f"oracle failed: {e}"
                    continue
                yield f"q.{name}", compare(got, want)
        finally:
            con.close()
        if self.dashboard is not None:
            yield from self.dashboard.checks()

    def trace_extras(self):
        for name in TRACE_QUERIES:
            yield f"q.{name}", lambda name=name: self.run_query(name)
        self.dashboard = DashboardRead(self.ctx)
        yield "dashboard.setup", self.dashboard.setup
        yield from self.dashboard.trace_extras()


WORKLOADS = {"ingest_stream": IngestStream, "analytics_contract": AnalyticsContract}
