"""Subprocess worker for the scaling benchmark: one JVM per parallelism
level (Spark master is fixed at session creation).  Prints one JSON line.

The measured job is the engine's production shape (rollup_grouping_sets):
every tier of all three series dimensions from ONE grouping-sets
aggregation (one scan, one shuffle), forced in one action.

Local-mode tuning is ``bench.SMALL_INPUT_CONF``, the headline session's
conf (the reasons are given there).

Usage: python tools/_scale_worker.py <cpus> <n_turns>
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIMS = {"global": [], "conv": ["conv_id"], "tool": ["tool"]}


def main(cpus: int, n_turns: int) -> dict:
    from bench import SMALL_INPUT_CONF, _transcripts_path
    from mq_to_db_spark.operators.rollup import rollup_grouping_sets
    from mq_to_db_spark.session import get_spark

    path = _transcripts_path(f"scale{n_turns}")
    if not os.path.exists(path):
        from mq_to_db_spark.fixtures.generator import write_transcripts_parquet

        write_transcripts_parquet(path, n_turns=n_turns, seed=42)

    spark = get_spark(
        app_name=f"scale-local{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 32),
        extra_conf=SMALL_INPUT_CONF,
        # this host tariffs first-touch page-commit ~50-100× (see
        # BENCH/PROFILE.md §6) — pretouch the whole heap at JVM startup
        # so the timed passes below measure the pipeline, not page faults
        pretouch=True,
    )
    df = spark.read.parquet(path)

    def run_pipeline() -> float:
        t0 = time.perf_counter()
        rollup_grouping_sets(df, DIMS).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # points produced by one pipeline pass (counted once, outside timing)
    points = rollup_grouping_sets(df, DIMS).count()

    run_pipeline()  # warmup: codegen compile + JIT
    secs = min(run_pipeline(), run_pipeline())  # steady state, best of 2
    return {
        "cpus": cpus,
        "n_turns": n_turns,
        "rolled_up_points": points,
        "seconds": round(secs, 3),
        "points_per_sec": round(points / secs, 1),
        "turns_per_sec": round(n_turns / secs, 1),
    }


if __name__ == "__main__":
    print(json.dumps(main(int(sys.argv[1]), int(sys.argv[2]))))
