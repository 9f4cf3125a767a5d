"""Independent DuckDB oracles and the result comparator.

Every check here recomputes an answer from the generated parquet inputs
with DuckDB SQL and compares it with what the engine returned.  Checks run
outside the timed sections; each failure is one failed operation.
"""

from __future__ import annotations

import duckdb
import pandas as pd

_VALID_ROLES = "('user', 'assistant', 'system', 'tool')"

#: the engine's reject taxonomy (``mq_to_db_spark.config``) as SQL; the
#: duplicate check partitions by ``batch`` because dedup is per delivery
_REASON_SQL = f"""
    CASE
      WHEN conv_id IS NULL OR conv_id = '' THEN 'null_or_empty_conv_id'
      WHEN ts IS NULL THEN 'null_ts'
      WHEN turn_idx IS NULL OR turn_idx < 0 THEN 'negative_or_null_turn_idx'
      WHEN role NOT IN {_VALID_ROLES} THEN 'unknown_role'
    END
"""

#: tier stats over raw valid turns, named like ``rollup.AGG_COL_NAMES``
_TEXT_LEN = "coalesce(length(text), 0)"
_TOKENS = (
    "CASE WHEN text IS NULL OR trim(text) = '' THEN 0 "
    "ELSE len(regexp_extract_all(trim(text), '\\s+')) + 1 END"
)
AGG_SQL = f"""
    count(*) AS n_turns,
    sum({_TEXT_LEN}) AS text_len_sum,
    min({_TEXT_LEN}) AS text_len_min,
    max({_TEXT_LEN}) AS text_len_max,
    sum({_TEXT_LEN} * {_TEXT_LEN}) AS text_len_sumsq,
    sum({_TOKENS}) AS token_sum,
    count_if(role = 'user') AS n_user,
    count_if(role = 'assistant') AS n_assistant,
    count_if(role = 'system') AS n_system,
    count_if(role = 'tool') AS n_tool
"""
ZERO_FILL = ("n_turns", "token_sum", "text_len_sum", "n_user", "n_assistant", "n_system", "n_tool")
STAT_COLS = (
    "n_turns", "text_len_sum", "text_len_min", "text_len_max", "text_len_sumsq",
    "token_sum", "n_user", "n_assistant", "n_system", "n_tool",
)


class Oracle:
    """One DuckDB connection over a run's generated inputs.

    ``batches`` is a list of parquet paths, one per delivery; their union
    (with per-delivery dedup) defines the ``turns`` and ``rejects`` views."""

    def __init__(self, batches: list[str]):
        self.con = duckdb.connect()
        self.con.sql("SET TimeZone = 'UTC'")
        files = ", ".join(f"'{b}'" for b in batches)
        self.con.sql(
            f"""
            CREATE VIEW tagged AS
            WITH raw AS (
              SELECT conv_id, turn_idx, role, text, tool, ts::TIMESTAMP AS ts, filename AS batch
              FROM read_parquet([{files}], filename = true)
            ), r AS (SELECT *, {_REASON_SQL} AS reason0 FROM raw)
            SELECT *, coalesce(reason0, CASE WHEN row_number() OVER (
                       PARTITION BY batch, conv_id, turn_idx
                       ORDER BY ts ASC NULLS LAST, text ASC NULLS LAST, role ASC NULLS FIRST) > 1
                     THEN 'duplicate_conv_turn_key' END) AS reason
            FROM r
            """
        )
        self.con.sql("CREATE VIEW turns AS SELECT * FROM tagged WHERE reason IS NULL")

    def close(self):
        self.con.close()

    def df(self, sql: str) -> pd.DataFrame:
        return self.con.sql(sql).df()

    def reject_counts(self) -> dict[str, int]:
        rows = self.con.sql(
            "SELECT reason, count(*) FROM tagged WHERE reason IS NOT NULL GROUP BY 1"
        ).fetchall()
        return {r: int(n) for r, n in rows}

    def tier(self, tier: str, keys: list[str], where: str = "TRUE") -> pd.DataFrame:
        unit = {"1m": "minute", "1h": "hour", "1d": "day"}[tier]
        kcols = "".join(f", {k}" for k in keys)
        series = " AND ".join([where] + [f"{k} IS NOT NULL" for k in keys])
        return self.df(
            f"""SELECT date_trunc('{unit}', ts) AS bucket_start{kcols}, {AGG_SQL}
                FROM turns WHERE {series} GROUP BY ALL"""
        )

    def gapfilled(self, tier: str, keys: list[str], where: str) -> pd.DataFrame:
        """``operators.gapfill`` semantics: one shared [min, max] bucket
        extent, every series x bucket, zero-filled counts, NULL stats."""
        unit, step = {"1m": ("minute", "1 minute"), "1h": ("hour", "1 hour")}[tier]
        kcols = "".join(f", {k}" for k in keys)
        kjoin = "".join(f" AND g.{k} IS NOT DISTINCT FROM r.{k}" for k in keys)
        series = f"(SELECT DISTINCT {', '.join(keys)} FROM r)" if keys else "(SELECT 1)"
        filled = ", ".join(
            f"coalesce(r.{c}, 0) AS {c}" if c in ZERO_FILL else f"r.{c}" for c in STAT_COLS
        )
        gkeys = "".join(f", s.{k}" for k in keys)
        gsel = "".join(f", g.{k}" for k in keys)
        return self.df(
            f"""
            WITH r AS (
              SELECT date_trunc('{unit}', ts) AS bucket_start{kcols}, {AGG_SQL}
              FROM turns WHERE {where} GROUP BY ALL
            ), ext AS (SELECT min(bucket_start) AS lo, max(bucket_start) AS hi FROM r),
            g AS (
              SELECT unnest(generate_series(ext.lo, ext.hi, INTERVAL '{step}')) AS bucket_start{gkeys}
              FROM ext, {series} s
            )
            SELECT g.bucket_start{gsel}, {filled}
            FROM g LEFT JOIN r ON g.bucket_start = r.bucket_start{kjoin}
            """
        )

    def grid(self, t0, t1, step_s: int, tier: str, keys: list[str]) -> pd.DataFrame:
        """``readpath.range_eval``: one point per step cell (aligned at
        ``t0``) per series, plus how many stored tier buckets fed it."""
        unit = {"1m": "minute", "1h": "hour"}[tier]
        kcols = "".join(f", {k}" for k in keys)
        series = "".join(f" AND {k} IS NOT NULL" for k in keys)
        e0 = int(pd.Timestamp(t0).timestamp())
        return self.df(
            f"""
            SELECT to_timestamp({e0} + ((epoch(date_trunc('{unit}', ts))::BIGINT - {e0}) // {step_s}) * {step_s})::TIMESTAMP AS grid_ts
                   {kcols}, {AGG_SQL},
                   count(DISTINCT date_trunc('{unit}', ts)) AS n_src_buckets
            FROM turns
            WHERE ts >= TIMESTAMP '{t0}' AND ts < TIMESTAMP '{t1}'{series}
            GROUP BY ALL
            """
        )

    def range_total(self, t0, t1) -> pd.DataFrame:
        return self.df(
            f"SELECT {AGG_SQL} FROM turns WHERE ts >= TIMESTAMP '{t0}' AND ts < TIMESTAMP '{t1}'"
        )


# -- comparison ---------------------------------------------------------------


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = pd.to_datetime(col).dt.tz_localize(None).astype("datetime64[us]")
        elif pd.api.types.is_bool_dtype(col):
            df[c] = col.astype(object)
        elif pd.api.types.is_numeric_dtype(col):
            df[c] = col.astype("float64")
        elif col.dtype == object or str(col.dtype) == "string":
            df[c] = col.map(lambda v: None if v is None or v is pd.NA else str(v), na_action=None)
    return df.sort_values(list(df.columns), ignore_index=True, na_position="first")


def compare(got: pd.DataFrame, want: pd.DataFrame, cols=None) -> str | None:
    """None when equal (order-insensitive, floats to 1e-9 relative), else
    a one-line description of the first difference."""
    if cols is not None:
        got, want = got[list(cols)], want[list(cols)]
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        a, b = g[c], w[c]
        if a.dtype == "float64" and b.dtype == "float64":
            same = (a.isna() & b.isna()) | ((a - b).abs() <= 1e-9 * (1 + b.abs()))
        else:
            same = (a.isna() & b.isna()) | (a.astype(object) == b.astype(object))
        if not bool(same.all()):
            i = int((~same).idxmax())
            return f"column {c}: {int((~same).sum())} mismatches, first {a[i]!r} != {b[i]!r}"
    return None
