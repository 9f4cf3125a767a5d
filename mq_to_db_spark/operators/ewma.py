"""Exponentially weighted moving average over series — a sequential
recurrence parallelized by affine-scan decomposition.

The reference's dashboard smooths its rate panels at read time (Grafana
`exponentialMovingAverage`-style transforms); this makes that a
first-class engine operator with exact recurrence semantics:

    s_1 = x_1
    s_t = alpha * x_t + (1 - alpha) * s_{t-1}

EWMA is the canonical "Spark can't window this" operator: each output
depends on ALL previous inputs, so no frame-bounded window expresses it.
But each step is an *affine* map ``s → (1-alpha)·s + alpha·x``, and
affine maps compose associatively — the classic parallel-scan structure:

  * **keyed path**: one ``applyInPandas`` per key; pandas' C-implemented
    ``ewm(adjust=False)`` runs the scan vectorized (verified bit-identical
    to the plain recurrence).  Parallelism = number of keys; a series
    lives in one task (the compression.py chunk-grain caveat applies —
    EWMA is meant for TIER rows, which the calendar bounds).
  * **keyless path** (one global series, still potentially huge): rows
    take their range buckets on ts and their order key from rangewin.py
    (``range_buckets``, ``order_key``); each bucket scans
    locally with a virtual zero initial state, a tiny per-bucket spine
    ``(B = local final, n = values, first value)`` is collected, the
    bucket-to-bucket recurrence ``s_out = B + (1-alpha)^n · s_in`` runs
    driver-side over that spine (hundreds of rows — same cost class as
    the range extent probe), and a broadcast join finalizes every
    row as ``s = local + (1-alpha)^pos · s_in`` in pure codegen.  The
    carry factor ``(1-alpha)^pos`` underflows to 0 for deep rows —
    mathematically true too (influence decays geometrically), so the
    decomposition loses nothing.

Outputs round to 6 decimals: the affine recombination and a straight
recurrence replay (the DuckDB recursive-CTE oracle) agree to ~1e-13.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StructType

from mq_to_db_spark.operators.rangewin import order_key, range_buckets
from mq_to_db_spark.session import local_frame


def ewma(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.3,
    tiebreak: tuple[str, ...] = (),
    out_col: str = "ewma",
    n_buckets: int | None = None,
) -> DataFrame:
    """Append ``out_col``: the EWMA of ``value_col`` in ``(ts_col,
    *tiebreak)`` order per ``keys`` series (or globally if ``keys`` is
    empty, via the range-partitioned scan).

    NULL values are skipped (pandas ``ignore_na=True``): a NULL row reads
    the average so far (NULL before the series' first value), and the
    next value decays the state by one step, not by the rows between."""
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if keys:
        return _ewma_keyed(df, keys, ts_col, value_col, alpha, tiebreak, out_col)
    return _ewma_keyless(df, ts_col, value_col, alpha, tiebreak, out_col, n_buckets)


def _scan_schema(df: DataFrame, extra: list) -> StructType:
    schema = StructType(list(df.schema.fields))
    for name, dtype in extra:
        schema = schema.add(name, dtype)
    return schema


def _ewm(x: pd.Series, alpha: float) -> pd.Series:
    """The plain recurrence over ``x``, NULLs skipped (see :func:`ewma`)."""
    return x.ewm(alpha=alpha, adjust=False, ignore_na=True).mean()


def _ewma_keyed(df, keys, ts_col, value_col, alpha, tiebreak, out_col):
    order = [ts_col, *tiebreak]
    schema = _scan_schema(df, [(out_col, DoubleType())])

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, ignore_index=True)
        pdf[out_col] = _ewm(pdf[value_col].astype("float64"), alpha).round(6)
        return pdf

    return df.groupBy(*keys).applyInPandas(scan, schema)


def _ewma_keyless(df, ts_col, value_col, alpha, tiebreak, out_col, n_buckets):
    spark = df.sparkSession
    tagged, _ = range_buckets(df, ts_col, n_buckets)
    order = [ts_col, *tiebreak]
    schema = _scan_schema(tagged, [("_loc", DoubleType()), ("_pos", IntegerType())])

    def local_scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, ignore_index=True)
        x = pdf[value_col].astype("float64")
        # virtual zero initial state: prepend 0, scan, drop the seed row —
        # exactly s_t = alpha·x_t + (1-alpha)·s_{t-1} with s_0 = 0 over
        # the bucket's values, NULLs skipped; _pos counts the values so far
        seeded = pd.concat([pd.Series([0.0]), x], ignore_index=True)
        pdf["_loc"] = _ewm(seeded, alpha).iloc[1:].to_numpy()
        pdf["_pos"] = x.notna().cumsum().to_numpy()
        return pdf

    loc = tagged.groupBy("_rb").applyInPandas(local_scan, schema)
    loc = loc.localCheckpoint(eager=False)  # scan once, reuse for spine + finalize
    key = order_key(ts_col, tiebreak)
    v = F.col(value_col)
    spine = (
        loc.where(F.col("_rb").isNotNull())  # NULL ts: outside the order
        .groupBy("_rb")
        .agg(
            F.max_by("_loc", key).alias("B"),
            F.count(v).alias("n"),
            F.min_by(v.cast("double"), F.when(v.isNotNull(), key)).alias("first_val"),
        )
        .orderBy("_rb")
        .collect()
    )
    # bucket-to-bucket recurrence over the tiny spine (driver-side): the
    # state entering the ``_head`` bucket (the series' first value) is
    # that value (s_1 == x_1), and its rows before it stay NULL; then
    # s_in[k+1] = s_out[k] = B_k + (1-alpha)^n_k · s_in[k]
    carries = []
    s_in = None
    for row in spine:
        head = s_in is None and row.n > 0
        if head:
            s_in = row.first_val
        carries.append((row._rb, s_in, head))
        if s_in is not None:
            s_in = row.B + (1.0 - alpha) ** row.n * s_in
    carry_df = local_frame(spark, carries, "_rb int, _carry double, _head boolean")
    s = F.col("_loc") + F.pow(F.lit(1.0 - alpha), F.col("_pos")) * F.col("_carry")
    return (
        loc.join(F.broadcast(carry_df), "_rb", "left")
        .withColumn(
            out_col, F.when(~F.col("_head") | (F.col("_pos") > 0), F.round(s, 6))
        )
        .drop("_rb", "_loc", "_pos", "_carry", "_head")
    )


def holt_linear(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    sf: float = 0.4,
    tf: float = 0.2,
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Two-parameter Holt linear smoothing — exact batch form of PromQL
    ``holt_winters(v, sf, tf)`` (renamed ``double_exponential_smoothing``
    in Prometheus 3.x; prometheus/promql/functions.go
    ``funcDoubleExponentialSmoothing``/``calcTrendValue``), which is NOT
    Brown's single-parameter form (:func:`double_ewma`): the smoothing
    factor ``sf`` and trend factor ``tf`` are independent.

    Per series in ``(ts_col, *tiebreak)`` order, exactly Prometheus'
    recurrence:

        s_1 = x_1 ;  b_1 = x_2 - x_1
        for t ≥ 2:
            b_t = tf·(s_{t-1} - s_{t-2}) + (1-tf)·b_{t-1}   (t ≥ 3;
                   b_2 keeps the initial x_2 - x_1)
            s_t = sf·x_t + (1-sf)·(s_{t-1} + b_t)

    appending ``smoothed`` (s_t) and ``trend`` (b_t; NULL on the first
    row, where no trend exists yet).  Series of length 1 emit
    ``smoothed = x_1`` (PromQL returns nothing for <2 samples; the
    batch form keeps the row so rollup joins stay total).

    The coupled two-state recurrence has no pandas C kernel (``ewm``
    only runs α-geometric scans), so the state loop is plain Python —
    but it crosses via ONE grouped Arrow batch and is O(bucket count),
    not O(turns): this operator consumes calendar-bounded TIER rows
    (e.g. 8,760 1h buckets/year), never the raw stream, so the loop is
    thousands of iterations per series, not 10^12.  Both states stay
    unrounded through the recurrence; the same literal expression
    order as the DuckDB recursive-CTE oracle keeps the doubles
    bit-identical before the final round-to-6.
    """
    if not 0 < sf < 1 or not 0 < tf < 1:
        raise ValueError(f"sf/tf must be in (0, 1), got sf={sf} tf={tf}")
    if not keys:
        raise ValueError("holt_linear is keyed-only (tier series per key)")
    order = [ts_col, *tiebreak]
    schema = _scan_schema(
        df, [("smoothed", DoubleType()), ("trend", DoubleType())]
    )
    one_minus_sf = 1.0 - sf
    one_minus_tf = 1.0 - tf

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, ignore_index=True)
        x = pdf[value_col].astype("float64").to_numpy()
        n = len(x)
        s_out = [x[0] if n else None]
        b_out: list[float | None] = [None]
        if n >= 2:
            s_prev, s_prev2 = x[0], x[0]
            b = x[1] - x[0]
            for t in range(1, n):
                if t >= 2:
                    b = tf * (s_prev - s_prev2) + one_minus_tf * b
                s_new = sf * x[t] + one_minus_sf * (s_prev + b)
                s_prev2, s_prev = s_prev, s_new
                s_out.append(s_new)
                b_out.append(b)
        pdf["smoothed"] = pd.Series(s_out, dtype="float64").round(6)
        pdf["trend"] = pd.Series(b_out, dtype="float64").round(6)
        return pdf

    return df.groupBy(*keys).applyInPandas(scan, schema)


def double_ewma(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.3,
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Brown double exponential smoothing — the PromQL ``holt_winters()``
    family's batch form.  Two chained EWMA scans share ONE grouped Arrow
    pass (sort once, two C ``ewm`` kernels — no second exchange):

        s_t = α·x_t + (1-α)·s_{t-1}          (s_1 = x_1)
        t_t = α·s_t + (1-α)·t_{t-1}          (t_1 = s_1)

        level    = 2·s − t                    (smoothed series value)
        trend    = α/(1-α) · (s − t)          (per-step slope estimate)
        forecast_next = level + trend         (one-step-ahead forecast)

    Both states stay UNROUNDED through the recurrence (the DuckDB oracle
    carries (s, t) through one recursive CTE in the same α·x + (1-α)·prev
    form); every output column rounds to 6 at the end.  Keyed only: tier
    series are calendar-bounded per key, so a series fits one grouped
    scan — the keyless 2×2 affine-matrix scan generalization is not
    needed (and ``ewma()`` covers the keyless single-smooth case).

    Appends ``s_single, s_double, level, trend, forecast_next``."""
    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if not keys:
        raise ValueError("double_ewma is keyed-only; use ewma() for a global series")
    order = [ts_col, *tiebreak]
    schema = _scan_schema(
        df,
        [
            ("s_single", DoubleType()),
            ("s_double", DoubleType()),
            ("level", DoubleType()),
            ("trend", DoubleType()),
            ("forecast_next", DoubleType()),
        ],
    )
    factor = alpha / (1.0 - alpha)

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, ignore_index=True)
        x = pdf[value_col].astype("float64")
        s = x.ewm(alpha=alpha, adjust=False).mean()
        t = s.ewm(alpha=alpha, adjust=False).mean()
        lvl = 2.0 * s - t
        trd = factor * (s - t)
        pdf["s_single"] = s.round(6)
        pdf["s_double"] = t.round(6)
        pdf["level"] = lvl.round(6)
        pdf["trend"] = trd.round(6)
        pdf["forecast_next"] = (lvl + trd).round(6)
        return pdf

    return df.groupBy(*keys).applyInPandas(scan, schema)


def holt_winters_seasonal(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    period: int = 24,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Triple exponential smoothing — additive Holt-Winters with a
    seasonal component of ``period`` samples (hour-of-day on an hourly
    tier), the classical recurrence (Winters 1960; the full form
    InfluxDB's ``holt_winters()`` runs, where PromQL's keeps only
    level+trend — :func:`holt_linear`):

        init at t = m (m = period), needing n ≥ 2m samples:
            L_m = (x_1 + … + x_m) / m
            B_m = ((x_{m+1}+…+x_{2m})/m − (x_1+…+x_m)/m) / m
            S_i = x_i − L_m                      (i = 1..m)
        for t = m+1 .. n:
            fitted_t = L_{t-1} + B_{t-1} + S_{t-m}   (one-step forecast)
            L_t = α·(x_t − S_{t-m}) + (1−α)·(L_{t-1} + B_{t-1})
            B_t = β·(L_t − L_{t-1}) + (1−β)·B_{t-1}
            S_t = γ·(x_t − L_t) + (1−γ)·S_{t-m}

    appending ``level``/``trend``/``seasonal``/``fitted`` (NULL for
    t ≤ m, and for every row of a series shorter than 2m — the init
    needs two full seasons).

    Like :func:`holt_linear`, the coupled (2+m)-state loop crosses in
    ONE grouped Arrow batch over calendar-bounded TIER rows (8,760
    hourly buckets/year), never the raw stream.  Every step is scalar
    IEEE double arithmetic in the literal order above — ``1 - alpha``
    etc. pre-computed once, exactly as the DuckDB recursive-CTE oracle
    writes ``(1 - 0.3)`` — so the replay is bit-identical before the
    final round-to-6."""
    for nm, v in (("alpha", alpha), ("beta", beta), ("gamma", gamma)):
        if not 0 < v < 1:
            raise ValueError(f"{nm} must be in (0, 1), got {v}")
    if period < 2:
        raise ValueError(f"period must be ≥ 2, got {period}")
    if not keys:
        raise ValueError("holt_winters_seasonal is keyed-only")
    order = [ts_col, *tiebreak]
    schema = _scan_schema(
        df,
        [
            ("level", DoubleType()),
            ("trend", DoubleType()),
            ("seasonal", DoubleType()),
            ("fitted", DoubleType()),
        ],
    )
    m = period
    oma, omb, omg = 1.0 - alpha, 1.0 - beta, 1.0 - gamma

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, ignore_index=True)
        x = [float(v) for v in pdf[value_col].to_numpy()]
        n = len(x)
        out: list[tuple] = [(None, None, None, None)] * n
        if n >= 2 * m:
            s1 = float(sum(pdf[value_col].to_numpy()[0:m], 0))
            s2 = float(sum(pdf[value_col].to_numpy()[m : 2 * m], 0))
            lev = s1 / m
            tr = (s2 / m - s1 / m) / m
            seas = [x[i] - lev for i in range(m)]  # ring: seas[0]=S_{t-m}
            for t in range(m, n):
                s_head = seas[0]
                fitted = lev + tr + s_head
                l_new = alpha * (x[t] - s_head) + oma * (lev + tr)
                b_new = beta * (l_new - lev) + omb * tr
                s_new = gamma * (x[t] - l_new) + omg * s_head
                seas = seas[1:] + [s_new]
                lev, tr = l_new, b_new
                out[t] = (lev, tr, s_new, fitted)
        lv, tv, sv, fv = (pd.Series([o[i] for o in out], dtype="float64") for i in range(4))
        pdf["level"] = lv.round(6)
        pdf["trend"] = tv.round(6)
        pdf["seasonal"] = sv.round(6)
        pdf["fitted"] = fv.round(6)
        return pdf

    return df.groupBy(*keys).applyInPandas(scan, schema)
