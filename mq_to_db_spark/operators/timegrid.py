"""The engine's time arithmetic, defined once: epoch microseconds,
fixed-width durations, tumbling step starts and step grids — the aligned
buckets behind the reference's windowed rates
(``sum(rate(mq_to_db_storer_messages_total[1m]))``,
docker-compose/grafana/dashboards/mq-to-db.json).

  * :func:`epoch_us` / :func:`from_epoch_us` — a timestamp as exact
    BIGINT epoch µs and back.  Integer µs keep durations, weights and
    steps order-independent and bit-replayable by the DuckDB oracles.
  * :func:`duration_us` / :func:`trunc_unit` — ``"15 minutes"`` in µs,
    or as the ``date_trunc`` unit one such step is.
  * :func:`step_start` / :func:`span_steps` — the tumbling step an
    instant falls in (floored, also before 1970, as ``date_trunc`` and
    ``F.window`` do), and every step inside a half-open span: the
    bounded fan-out of sliding windows and interval clipping.
  * :func:`step_grid` — the dense step grid over a frame's extent, whole
    or per series: one tiny extent aggregate, then a ``sequence``
    explode, never materialized input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: microseconds per fixed-width unit (no month/year: a tumbling step must
#: be arithmetic, the restriction ``F.window`` has too)
_US_PER = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 7 * 86_400_000_000,
}


def epoch_us(c: Column) -> Column:
    """Timestamp (or date) → exact BIGINT epoch microseconds.  NTZ-safe:
    parquet timestamps read back as TIMESTAMP_NTZ, which ``unix_micros``
    rejects, and NTZ→LTZ reads the wall time in the session time zone,
    which ``get_spark`` pins to UTC."""
    return F.unix_micros(c.cast("timestamp_ltz"))


def from_epoch_us(us: Column, ltz: bool = False) -> Column:
    """BIGINT epoch microseconds → timestamp: TIMESTAMP_NTZ (UTC wall
    time, the type of every bucket column), or TIMESTAMP with ``ltz``."""
    ts = F.timestamp_micros(us)
    return ts if ltz else ts.cast("timestamp_ntz")


def duration_us(spec: str) -> int:
    """``"15 minutes"`` → 900000000 µs.  Fixed-width units only."""
    parts = spec.strip().split()
    if len(parts) != 2:
        raise ValueError(f"expected '<n> <unit>', got {spec!r}")
    n, unit = int(parts[0]), parts[1].lower().rstrip("s")
    if unit not in _US_PER:
        raise ValueError(f"unsupported unit {unit!r} (fixed-width only)")
    if n <= 0:
        raise ValueError(f"duration must be positive, got {spec!r}")
    return n * _US_PER[unit]


def trunc_unit(spec: str) -> str:
    """The ``date_trunc`` unit whose buckets are ``spec`` wide:
    ``"1 hour"`` → ``"hour"``.  One unit of at most a day, where
    ``date_trunc`` and :func:`step_start` agree (weeks truncate to
    Mondays, epoch steps to Thursdays)."""
    width, unit = duration_us(spec), spec.split()[1].lower().rstrip("s")
    if width != _US_PER[unit] or width > _US_PER["day"]:
        raise ValueError(f"{spec!r} is not one date_trunc unit of at most a day")
    return unit


def step_start(us: Column, step_us: int, origin_us: int = 0) -> Column:
    """Start (epoch µs) of the tumbling ``step_us`` step holding ``us``,
    steps counted from ``origin_us``."""
    return us - F.pmod(us - F.lit(origin_us), F.lit(step_us))


def span_steps(lo_us: Column, hi_us: Column, step_us: int) -> Column:
    """``explode`` of every step instant ``g`` (epoch µs, a multiple of
    ``step_us``) with ``lo_us <= g < hi_us`` — one row per step a span
    reaches.  The span must hold at least one step instant."""
    first = step_start(lo_us + F.lit(step_us - 1), step_us)
    return F.explode(F.sequence(first, hi_us - F.lit(1), F.lit(step_us)))


def step_grid(
    df: DataFrame,
    step: str,
    keys: list[str] | tuple[str, ...] = (),
    ts_col: str = "ts",
    align: str | None = None,
    global_extent: bool = False,
    out_col: str | None = None,
) -> DataFrame:
    """Dense ``step``-spaced grid (``step`` a Spark interval, e.g.
    ``"10 minutes"``) over ``df``'s [min, max] extent of ``ts_col``: keys
    + ``out_col`` (default ``ts_col``).

    The first instant is the extent's start floored to the ``date_trunc``
    unit ``align`` (the start itself when None); the last is the final
    step at or before the extent's end.  With ``keys`` each series spans
    its own extent, or with ``global_extent`` every series spans the
    frame's one extent (the dashboard convention: every panel shares the
    x-axis) — the distinct series cross a broadcast one-row extent.
    """
    keys = list(keys)
    out_col = out_col or ts_col
    lo = F.min(ts_col) if align is None else F.date_trunc(align, F.min(ts_col))
    bounds = [lo.alias("_lo"), F.max(ts_col).alias("_hi")]
    if keys and global_extent:
        extent = df.select(*keys).distinct().crossJoin(F.broadcast(df.agg(*bounds)))
    else:
        extent = df.groupBy(*keys).agg(*bounds)
    steps = F.sequence("_lo", "_hi", F.expr(f"INTERVAL {step}"))
    return extent.select(*keys, F.explode(steps).alias(out_col))
