"""Bench harness (driver contract + north-rule metric).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line::

    {"metric": "headline_queries_total_sec", "value": <sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": 0.1,
     "rolled_up_points": N, "rolled_up_points_per_sec": X,
     "turns_ingested": N, "turns_per_sec": X, "cpus": N}

**The headline set is FROZEN at round-2's 12 queries** so ``value`` is
comparable across BENCH_r{N} files forever; every operator added since
(and any added later) is timed identically but reported under
``extended_queries``.

The north-rule metric (rolled-up points/sec — turns ingested → tier-matched
aggregate points) is measured on the full engine pipeline over a
deterministic synthetic transcript table sized to the SF (~600k turns at
SF=0.1, seed 42), cached as parquet next to this file so every run (and
every level of the scaling comparison) reads identical bytes.  Results are
materialized with the ``noop`` sink — executor-side full materialization,
no driver collect.  The 32M-turn run (``scale_32m``) and the live N→4N
scaling pairs (``scaling``) are measured in their own JVMs per run — a
Spark master is fixed per session — before the headline session opens.

Host honesty: this sandbox tariffs first-touch page-commit ~50-100×
(BENCH/PROFILE.md §6) — every JVM here launches with ``-Xms=-Xmx
-XX:+AlwaysPreTouch`` so the timed sections measure the engine, not the
hypervisor's allocation throttle.  Each timed section also records its
raw per-run times (``section_runs``): a section whose runs disagree >2.5×
is retried (bounded) with a host probe stamped at the disagreement, so a
reader can discard individual contaminated timings instead of the run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
#: turns in the synthetic transcript table per unit SF (FIXTURES.md: sf0.1
#: ≈ 600k turns, matching the driver's sf0.1 sizing)
TURNS_PER_SF = 6_000_000

#: local-bench analogue of the cluster defaults: a ~10-100 MB input must
#: still yield >cores splits (TB inputs get that from 128 MB binning for
#: free), and AQE must not coalesce the few-MB partial-agg shuffle onto
#: one core.  A/B'd against stock conf under pretouched heaps
#: (BENCH/ab_conf_r04.json): the two are within noise of each other at
#: sf0.1.  Shared by the headline session and the scaling workers.
SMALL_INPUT_CONF = {
    "spark.sql.files.maxPartitionBytes": "1m",
    "spark.sql.files.openCostInBytes": "0",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
}


def headline_queries() -> list[str]:
    """The round-2 headline set, FROZEN (comparability across rounds): the
    contract queries registered with ``headline=True``, in registration
    order.  With the 3 macro pipeline sections that makes the 12 headline
    timings; every other registered query is timed the same way under
    ``extended_queries``."""
    import __spark_entry__ as entry

    return [name for name, q in entry.CONTRACT.items() if q.headline]


def _sf_of(sf_dir: str) -> float:
    name = os.path.basename(os.path.normpath(sf_dir))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def _transcripts_path(sf) -> str:
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    return os.path.join(bench_dir, f"transcripts_sf{sf}.parquet")


def ensure_transcripts(sf: float) -> str:
    """Deterministic synthetic transcript table at SF, cached as parquet."""
    path = _transcripts_path(sf)
    if not os.path.exists(path):
        from mq_to_db_spark.fixtures.generator import write_transcripts_parquet

        write_transcripts_parquet(path, n_turns=int(sf * TURNS_PER_SF), seed=42)
    return path


def _materialize(df) -> int:
    """Force full execution executor-side; return output row count."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _probe() -> dict:
    try:
        from tools.probe_host import main as probe_host

        return probe_host(mib=64, stat_seconds=1.0)
    except Exception as e:  # noqa: BLE001
        return {"error": str(e)[:200]}


def run(sf_dir: str = SF_DIR, cpus: int = CPUS, include_scaling_meta: bool = True) -> dict:
    from pyspark.sql import functions as F

    from mq_to_db_spark.operators.compression import decode_chunks, encode_chunks
    from mq_to_db_spark.operators.gapfill import gapfill
    from mq_to_db_spark.operators.rollup import rollup_tiers
    from mq_to_db_spark.session import get_spark

    # stamp host health BEFORE any measurement (and again at the end)
    host_before = _probe()

    sf = _sf_of(sf_dir)
    tr_path = ensure_transcripts(sf)

    # Each scale worker starts its own pretouched heap, so run them while
    # this process holds no JVM: ``spark.stop()`` leaves the driver JVM
    # resident, and two 8 GiB heaps do not fit a 15 GiB host.
    scale = _scale_meta(cpus) if include_scaling_meta else {}

    spark = get_spark(
        app_name=f"bench-local{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=SMALL_INPUT_CONF,
        pretouch=True,
    )
    import __spark_entry__ as entry

    # warmup: JVM/codegen/Arrow spin-up outside timed sections
    spark.range(1_000_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    # warm queries against the smallest sibling fixture of the timed dir
    # (not a hardcoded path — $SPARK_GRAFT_SF_DIR may live elsewhere);
    # if none exists, warm against the timed dir itself (slower first
    # pass, still correct).
    WARM_DIR = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(WARM_DIR):
        print(f"# no warmup fixture at {WARM_DIR}; warming on {sf_dir}", file=sys.stderr)
        WARM_DIR = sf_dir

    timings: dict[str, float] = {}
    extended: dict[str, float] = {}
    section_runs: dict[str, list[float]] = {}
    section_probes: dict[str, dict] = {}

    def timed(name: str, fn, into: dict):
        """Best-of-runs with full per-run disclosure.

        Two spaced runs (cache cleared between — each is a full
        recompute); if they disagree >2.5× the section is suspect (host
        episode mid-run), so stamp a probe and re-run, up to 2 extra
        times.  The reported number is the min; ALL raw runs land in
        ``section_runs[name]`` so a reader can judge each section.
        """
        runs: list[float] = []
        out = None
        for _ in range(2):
            t0 = time.perf_counter()
            out = fn()
            runs.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        extra = 0
        while max(runs) / min(runs) > 2.5 and extra < 2:
            section_probes[name] = _probe()
            t0 = time.perf_counter()
            fn()
            runs.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
            extra += 1
        into[name] = round(min(runs), 3)
        section_runs[name] = [round(r, 3) for r in runs]
        return out

    # -- north-rule pipeline: transcripts → validate → tier cascade --------
    transcripts = spark.read.parquet(tr_path)
    n_turns = transcripts.count()

    # warm the pipeline plans on a tiny input (codegen compile only)
    warm_tr = spark.read.parquet(ensure_transcripts(0.001))

    def _rollup_all(src):
        # production shape: every tier of all 3 dimensions from ONE
        # grouping-sets aggregation, counted in one action — see
        # rollup.rollup_grouping_sets.
        from mq_to_db_spark.operators.rollup import rollup_grouping_sets

        return rollup_grouping_sets(
            src, {"global": [], "conv": ["conv_id"], "tool": ["tool"]}
        ).count()

    _rollup_all(warm_tr)  # codegen compile outside the timed run
    points = timed("rollup_cascade_3dim", lambda: _rollup_all(transcripts), timings)

    _materialize(gapfill(rollup_tiers(warm_tr, keys=[])["1h"], "1h"))  # warm
    tiers_global = rollup_tiers(transcripts, keys=[])
    timed("gapfill_1h", lambda: _materialize(gapfill(tiers_global["1h"], "1h")), timings)

    def _codec(src):
        chunks = encode_chunks(src, value_col="text_len")
        return _materialize(decode_chunks(chunks))

    _codec(warm_tr)  # warm (Arrow + pandas-UDF worker spin-up)
    timed("codec_encode_decode", lambda: _codec(transcripts), timings)

    # -- driver-table queries ----------------------------------------------
    # Each query is warmed at the small sibling fixture (codegen compile)
    # AND once at sf_dir itself: per-plan-instance one-time costs (JIT of
    # freshly generated classes, Arrow worker spin-up across all cores)
    # do NOT transfer from the small warmup — AQE coalesces its tiny
    # stages to ~1 partition, so e.g. only one Python worker gets
    # spawned.  The cache is cleared before the timed run (a repeated
    # identical plan would otherwise silently reuse the warm run's
    # persisted subtrees via logical-plan cache matching and measure
    # cache reads, not compute) — the timed number is honest
    # steady-state: full recompute, warm JVM.
    qs = entry.queries()

    def run_query_set(names, into):
        for name in names:
            key = f"q_{name}"
            _materialize(qs[name](spark, WARM_DIR))
            _materialize(qs[name](spark, sf_dir))  # absorb per-instance one-time costs
            spark.catalog.clearCache()  # timed run must recompute, not read caches
            timed(key, lambda n=name: _materialize(qs[n](spark, sf_dir)), into)

    headline = headline_queries()
    run_query_set(headline, timings)
    run_query_set([n for n in qs if n not in headline], extended)

    rollup_sec = timings["rollup_cascade_3dim"]
    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extended_queries": extended,
        "section_runs": section_runs,
        "sf": sf,
        "cpus": cpus,
        "turns_ingested": int(n_turns),
        "rolled_up_points": int(points),
        "rolled_up_points_per_sec": round(points / rollup_sec, 1),
        "turns_per_sec": round(n_turns / rollup_sec, 1),
    }
    if section_probes:
        result["section_probes"] = section_probes
    spark.stop()
    result.update(scale)
    # environment self-documentation: a page-commit-throttled host inflates
    # allocation-heavy phases 3-30x with no steal/idle signal — stamp
    # every bench JSON with before/after probes so readers can tell plan
    # regressions from host episodes (BENCH/PROFILE.md §5-6)
    result["host_before"] = host_before
    result["host_after"] = _probe()
    return result


#: the north-rule throughput input: 32M turns — large enough that fixed
#: job overhead (3 actions + persist) vanishes from the quotient, unlike
#: the ~600k-turn SF=0.1 headline above
SCALE_TURNS = 32_000_000

#: parallelism levels measured LIVE each bench run: the N→4N pair ending
#: at the host's core count
SCALE_LEVELS = (max(1, CPUS // 4), CPUS)


def _run_scale_level(cpus: int, n_turns: int) -> dict:
    import subprocess

    repo = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "_scale_worker.py"),
         str(cpus), str(n_turns)],
        capture_output=True, text=True, timeout=3600, cwd=repo,
    )
    if proc.returncode != 0:
        tail = proc.stderr.strip().splitlines()
        raise RuntimeError(tail[-1][:300] if tail else f"rc={proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _scale_meta(cpus: int) -> dict:
    """North-rule numbers at 32M turns, measured LIVE (VERDICT r03 #3:
    no replayed artifacts).  Each parallelism level runs in its own
    pretouched JVM (tools/_scale_worker — a Spark master is fixed per
    session) against the cached deterministic fixture.

    MEDIAN-of-3 per level (VERDICT r04 #6): the r04 record's best-of
    policy hid a 2× within-run spread at the 32-core level (0.89–1.73 M
    pts/s inside one healthy-probed run — first-touch tariff residue).
    Every level now runs exactly 3 times; the level's number is the
    MEDIAN, the full spread is disclosed per level
    (``level_runs_points_per_sec`` + ``spread``), and pair efficiencies
    are ratios of medians.  No retry heuristics — a contaminated run
    moves the median less than it moved the best, and the raw runs are
    all in the artifact for the reader to judge."""
    import statistics

    out: dict = {}
    levels: dict[int, dict] = {}
    runs: dict[int, list[float]] = {}

    for c in SCALE_LEVELS:
        for _ in range(3):
            try:
                r = _run_scale_level(c, SCALE_TURNS)
                runs.setdefault(c, []).append(r["points_per_sec"])
                levels.setdefault(c, {})[r["points_per_sec"]] = r
            except Exception as e:  # noqa: BLE001
                runs.setdefault(c, [])
                levels.setdefault(c, {})
                levels[c].setdefault("_error", str(e)[:300])

    med: dict[int, dict] = {}
    for c in SCALE_LEVELS:
        pts = sorted(runs.get(c, []))
        if not pts:
            med[c] = {"error": levels.get(c, {}).get("_error", "no runs")}
            continue
        m = statistics.median(pts)
        # the run whose points_per_sec is closest to the median carries
        # the full detail (seconds, rolled-up points)
        detail = min(
            (v for k, v in levels[c].items() if k != "_error"),
            key=lambda v: abs(v["points_per_sec"] - m),
        )
        med[c] = dict(detail)
        # with 3 runs the median IS the middle run, so points_per_sec
        # and the carried seconds/points detail agree; on a 2-run level
        # (one subprocess error) the median is the mean of the two and
        # points_per_sec is overridden to it
        med[c]["points_per_sec"] = round(m, 1)
        med[c]["points_per_sec_median"] = round(m, 1)
        med[c]["spread"] = [round(pts[0], 1), round(pts[-1], 1)]
        med[c]["n_runs"] = len(pts)

    out["scale_32m"] = dict(med[SCALE_LEVELS[-1]])

    lo, hi = SCALE_LEVELS
    pairs = {}
    if "error" not in med[lo] and "error" not in med[hi]:
        ratio = hi / lo
        speedup = (
            med[hi]["points_per_sec_median"] / med[lo]["points_per_sec_median"]
        )
        pairs[f"{lo}->{hi}"] = {
            "core_ratio": ratio,
            "speedup": round(speedup, 3),
            "scaling_efficiency": round(speedup / ratio, 3),
        }
    head = pairs.get(f"{lo}->{hi}", {})
    out["scaling"] = {
        "measured_live": True,
        "statistic": "median-of-3 per level (spread disclosed)",
        "n_turns": SCALE_TURNS,
        "levels": {str(c): med[c] for c in SCALE_LEVELS},
        "level_runs_points_per_sec": {str(c): runs.get(c, []) for c in SCALE_LEVELS},
        "pairs": pairs,
        "headline_pair": f"local[{lo}] -> local[{hi}]",
        "speedup": head.get("speedup"),
        "scaling_efficiency": head.get("scaling_efficiency"),
        "target": 0.8,
        "headline_pass": (head.get("scaling_efficiency") or 0) >= 0.8,
    }
    return out


if __name__ == "__main__":
    print(json.dumps(run()))
