"""Ordered funnel analysis over an event stream.

"How many users signed up, then viewed, then purchased — in order,
within a horizon?" is the product-metrics sibling of the reference's
per-consumer outcome counters (internal/metrics/metrics.go counts
messages per consumer/outcome; a funnel counts *entities* per ordered
outcome sequence).  Ordered-funnel semantics: a user reaches step k iff
there is an event of step k at-or-after the time they reached step
k-1; the earliest such chain wins, and the whole chain must complete
within ``horizon`` of step 1 (no horizon → unbounded).

Scale shape: ONE shuffle on the entity key.  Per user we aggregate the
(tiny) sorted timestamp list *per funnel step* — list sizes are the
user's own step-event counts, never the corpus — then walk the chain
with JVM-side array expressions (``filter`` + ``element_at``), so no
Python crosses the row path and the final counts are a tier-sized
second agg.  A grid/self-join formulation would shuffle events once
per step; this shuffles them once total.

Exact and deterministic: earliest-chain is a pure function of the
event multiset, so the DuckDB oracle (same list walk via
``list_filter``) reproduces it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F

from mq_to_db_spark.operators.timegrid import epoch_us


def funnel_reach(
    events: DataFrame,
    steps: list[str],
    entity_col: str = "user_id",
    step_col: str = "event_type",
    ts_col: str = "ts",
    horizon_sec: int | None = None,
) -> DataFrame:
    """Earliest ordered-chain timestamps per entity.

    Returns one row per entity that completed step 1, with columns
    ``entity_col, t1..tN`` (timestamp of the earliest valid chain's
    k-th step; NULL once the chain breaks).  ``horizon_sec`` bounds
    t_k - t1 for every k.
    """
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    ev = events.where(F.col(step_col).isin(steps))
    # one shuffle: per-entity sorted ts array per step
    per_step = [
        F.sort_array(
            F.collect_list(F.when(F.col(step_col) == s, F.col(ts_col)))
        ).alias(f"_ts_{k}")
        for k, s in enumerate(steps, start=1)
    ]
    g = ev.groupBy(entity_col).agg(*per_step)

    def _first_at_or_after(arr: Column, prev: Column) -> Column:
        # earliest event of this step at-or-after the previous step's
        # time; NULL if the chain broke earlier or nothing qualifies
        return F.when(
            prev.isNotNull(),
            F.try_element_at(F.filter(arr, lambda x: x >= prev), F.lit(1)),
        )

    t_cols: list[Column] = [F.try_element_at(F.col("_ts_1"), F.lit(1)).alias("t1")]
    prev = F.try_element_at(F.col("_ts_1"), F.lit(1))
    for k in range(2, len(steps) + 1):
        cur = _first_at_or_after(F.col(f"_ts_{k}"), prev)
        if horizon_sec is not None:
            # µs-integer bound: bit-identical across engines
            cur = F.when(
                epoch_us(cur) - epoch_us(F.try_element_at(F.col("_ts_1"), F.lit(1)))
                <= int(horizon_sec) * 1_000_000,
                cur,
            )
        t_cols.append(cur.alias(f"t{k}"))
        prev = cur
    return g.select(entity_col, *t_cols).where(F.col("t1").isNotNull())


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    entity_col: str = "user_id",
    step_col: str = "event_type",
    ts_col: str = "ts",
    horizon_sec: int | None = None,
) -> DataFrame:
    """The funnel table: ``(step_idx, step, n_entities, conv_rate)``.

    ``n_entities`` = entities whose earliest valid chain reaches the
    step; ``conv_rate`` = n / n(step 1), rounded to 6 so the contract
    hash is engine-independent.  Second agg is over per-entity rows
    (tier-sized); output is |steps| rows.
    """
    reach = funnel_reach(
        events, steps, entity_col, step_col, ts_col, horizon_sec
    )
    counts = reach.agg(
        *[
            F.count(F.col(f"t{k}")).alias(f"_n_{k}")
            for k in range(1, len(steps) + 1)
        ]
    )
    # |steps| literal rows from one aggregate row: stack() is JVM-side
    stack_args = ", ".join(
        f"{k}, '{s}', _n_{k}" for k, s in enumerate(steps, start=1)
    )
    return (
        counts.selectExpr(
            "_n_1 as _base",
            f"stack({len(steps)}, {stack_args}) as (step_idx, step, n_entities)",
        )
        .select(
            F.col("step_idx").cast("int").alias("step_idx"),
            "step",
            F.col("n_entities").cast("long").alias("n_entities"),
            F.round(
                F.try_divide(F.col("n_entities"), F.col("_base")), 6
            ).alias("conv_rate"),
        )
    )
