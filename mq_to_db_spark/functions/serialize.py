"""Canonical serialization of engine records (SURVEY.md §2 B3/B5).

The reference serializes its message and result structs to JSON with a
fixed field order and byte-exact golden outputs
(/root/reference/internal/messages/sql.go:48-54 `ToJSON`,
/root/reference/internal/repository/messages.go:34-41 `Results.ToJSON`,
golden strings sql_test.go:110,147-159).  The engine inherits that
discipline: ``to_json(struct(...))`` with an explicit column order and a
fixed timestamp format, so the same row always serializes to the same
bytes — the property the per-turn text-equality invariant and the golden
tests lean on.  JVM-side (`to_json` is codegen'd); no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mq_to_db_spark.operators.timegrid import epoch_us

#: canonical field order of a transcript turn (input_hint order)
TURN_FIELDS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")

#: microsecond-precision, timezone-free — matches the engine's UTC session
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

_OPTS = {"timestampFormat": _TS_FMT, "ignoreNullFields": "false"}


def turn_json(cols: tuple[str, ...] = TURN_FIELDS) -> Column:
    """Canonical JSON for one turn row (B3 analogue)."""
    return F.to_json(F.struct(*[F.col(c) for c in cols]), _OPTS)


def with_turn_json(df: DataFrame, out_col: str = "json") -> DataFrame:
    return df.withColumn(out_col, turn_json())


def result_json(
    by: Column | str, rows: Column | str, reason: Column | str, error: Column | str
) -> Column:
    """Canonical JSON of a per-unit processing outcome — the ``Results``
    record analogue (B5): ``{by, rows_affected, reason, error}``."""
    c = lambda x: F.col(x) if isinstance(x, str) else x  # noqa: E731
    return F.to_json(
        F.struct(
            c(by).alias("by"),
            c(rows).cast("long").alias("rows_affected"),
            c(reason).alias("reason"),
            c(error).alias("error"),
        ),
        _OPTS,
    )


def turn_yaml_rows(rows: list[dict]) -> str:
    """Canonical YAML serialization of turn records (B4 analogue —
    /root/reference/internal/messages/sql.go:57-63 `ToYAML`, golden
    output sql_test.go:147-159).  The reference uses YAML only for
    debug/config dumps, so this is a driver-side helper over collected
    rows (never a per-row executor path); field order is the canonical
    TURN_FIELDS order, byte-stable across runs."""
    try:
        import yaml
    except ImportError as exc:  # pragma: no cover — yaml ships in this env
        raise NotImplementedError("PyYAML not available") from exc

    def _one(r: dict) -> dict:
        return {k: r.get(k) for k in TURN_FIELDS}

    return yaml.safe_dump(
        [_one(r) for r in rows], sort_keys=False, allow_unicode=True
    )


def parse_turn_json(col: Column | str) -> Column:
    """Inverse of :func:`turn_json` (B1 analogue): strict declared-schema
    parse — `from_json` yields NULL fields on type mismatch, and the
    validate operator routes those rows to the dead letter, reproducing
    the reference's strict-parse reject path (sql_test.go:45-50) without
    exceptions."""
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    return F.from_json(col, schema, _OPTS)


# -- OpenMetrics exposition (the Prometheus scrape-surface analogue) ----------


def openmetrics_line(
    metric: str,
    label_cols: dict[str, Column | str],
    value: Column | str,
    ts_col: Column | str,
) -> Column:
    """One OpenMetrics text-exposition line per row:
    ``name{k="v",…} value timestamp_s`` — the format the reference's
    /metrics endpoint speaks (Prometheus client_golang exposition,
    internal/metrics), so a rolled-up tier can be replayed INTO a
    Prometheus-compatible consumer (remote-write bridges, mimirtool
    loads) byte-stably.

    Pure string expressions (JVM codegen, no Python): label values are
    backslash/quote-escaped per the spec, labels render in the given
    dict order (fixed → byte-stable), values via BIGINT-safe string
    cast (callers pass integer series; float callers format upstream),
    and the timestamp as whole epoch seconds (exposition timestamps are
    seconds)."""
    c = lambda x: F.col(x) if isinstance(x, str) else x  # noqa: E731
    # literal replace, NOT regexp_replace: Java regex replacement strings
    # treat backslash as an escape, which silently un-escapes the quote
    esc = lambda x: F.replace(  # noqa: E731
        F.replace(c(x).cast("string"), F.lit("\\"), F.lit("\\\\")),
        F.lit('"'),
        F.lit('\\"'),
    )
    parts = [F.lit(metric), F.lit("{")]
    for i, (k, v) in enumerate(label_cols.items()):
        if i:
            parts.append(F.lit(","))
        parts += [F.lit(f'{k}="'), esc(v), F.lit('"')]
    ts_s = (epoch_us(c(ts_col)) / F.lit(1_000_000)).cast("long")
    parts += [
        F.lit("} "),
        c(value).cast("long").cast("string"),
        F.lit(" "),
        ts_s.cast("string"),
    ]
    return F.concat(*parts)


def with_openmetrics(
    df: DataFrame,
    metric: str,
    label_cols: list[str],
    value_col: str,
    ts_col: str = "bucket_start",
    out_col: str = "exposition",
) -> DataFrame:
    """Add the exposition line column for a rolled-up tier frame."""
    return df.withColumn(
        out_col,
        openmetrics_line(
            metric, {k: k for k in label_cols}, value_col, ts_col
        ),
    )


def parse_openmetrics_line(line: Column | str) -> Column:
    """Inverse of :func:`openmetrics_line` — parse one exposition line
    ``name{k="v",…} value timestamp_s`` back into a struct
    ``(metric string, labels map<string,string>, value long,
    ts timestamp)``: the scrape side of the reference's metrics plane
    (Prometheus scrapes /metrics and re-ingests exactly this text), so
    an exposition written by one tier can be loaded lossless by another
    engine instance.

    Pure JVM expressions end to end: the label block is taken greedily
    (label VALUES may contain ``}``, ``,`` or spaces — the trailing
    ``value timestamp`` anchor disambiguates), pairs are matched with
    the escape-aware ``k="(?:[^"\\\\]|\\\\.)*"`` regex, and values are
    un-escaped by the two literal replaces in the exact inverse order
    of the writer (``\\"`` → ``"`` first, then ``\\\\`` → ``\\``).
    Malformed lines parse to NULL fields (never throw).
    """
    c = F.col(line) if isinstance(line, str) else line
    nonempty = lambda col: F.when(col != "", col)  # noqa: E731 — ANSI-safe
    metric = nonempty(F.regexp_extract(c, r"^([^{]+)\{", 1))
    block = F.regexp_extract(c, r"^[^{]+\{(.*)\} -?\d+ \d+$", 1)
    value = nonempty(F.regexp_extract(c, r"\} (-?\d+) \d+$", 1)).cast("long")
    ts = F.timestamp_seconds(
        nonempty(F.regexp_extract(c, r" (\d+)$", 1)).cast("long")
    )
    pair_re = r'[A-Za-z_][A-Za-z0-9_]*="(?:[^"\\]|\\.)*"'
    pairs = F.regexp_extract_all(block, F.lit(pair_re), 0)
    unesc = lambda v: F.replace(  # noqa: E731 — inverse of the writer
        F.replace(v, F.lit('\\"'), F.lit('"')),
        F.lit("\\\\"),
        F.lit("\\"),
    )
    entries = F.transform(
        pairs,
        lambda p: F.struct(
            F.regexp_extract(p, r"^([A-Za-z_][A-Za-z0-9_]*)=", 1).alias("key"),
            unesc(
                F.regexp_extract(p, r'^[A-Za-z_][A-Za-z0-9_]*="((?:[^"\\]|\\.)*)"$', 1)
            ).alias("value"),
        ),
    )
    return F.struct(
        metric.alias("metric"),
        F.map_from_entries(entries).alias("labels"),
        value.alias("value"),
        ts.alias("ts"),
    )


def parse_openmetrics(
    df: DataFrame, line_col: str = "exposition", prefix: str = "om_"
) -> DataFrame:
    """Column-expanded :func:`parse_openmetrics_line` over a frame of
    exposition lines: adds ``{prefix}metric/labels/value/ts``."""
    s = parse_openmetrics_line(line_col)
    return df.select(
        "*",
        s.getField("metric").alias(f"{prefix}metric"),
        s.getField("labels").alias(f"{prefix}labels"),
        s.getField("value").alias(f"{prefix}value"),
        s.getField("ts").alias(f"{prefix}ts"),
    )
