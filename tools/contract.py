"""Local replay of the driver contract: every ``__spark_entry__.queries()``
entry run on Spark against its ``oracle_sql()`` on DuckDB.

Modes (one runner, one registry walk):

``values`` (default)
    Per query: row count, column names, the dtype class of every column
    (read from the Spark schema and the DuckDB relation's types, never
    from pandas — ``toPandas`` turns a nullable integer into float64),
    and order-insensitive values with floats inside a 1e-9 relative
    band.  Then a smoke run of ``entry()``.  A HUGEINT or DECIMAL oracle
    column never matches a Spark integer or double, so an oracle that
    would change the driver's hash fails here first.
``strict``
    ``values`` with every float column compared bit for bit (the
    float-surface audit, BENCH/FLOAT_SURFACE_AUDIT.md).
``plan``
    Analyzed (not executed) physical-plan counters per query, with AQE
    off so the static plan keeps its codegen markers; written to
    BENCH/PLAN_AUDIT.json unless ``--json`` names another file.

A Spark error, an oracle error or a missing oracle column fails only its
own query; the walk goes on.  The session comes from ``get_spark()``'s
defaults, so core count follows ``$SPARK_GRAFT_CPUS`` or the host.

Usage: python tools/contract.py SF_DIR [--mode values|strict|plan]
                                [--only q1,q2] [--json out.json]
Exits 1 if any query (or ``entry()``) failed, else 0.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

#: dtype classes by DuckDB type id and by Spark type name.  Dates and
#: timestamps share one class: DuckDB's ``date_trunc('day', ts)`` is a
#: DATE where Spark keeps a timestamp, and both reach pandas as the same
#: datetime64 values.  An unmapped type (HUGEINT, DECIMAL, ...) keeps its
#: own name, which never matches the other engine's, so it fails loudly.
_DUCK_CLASS = {
    "tinyint": "int", "smallint": "int", "integer": "int", "bigint": "int",
    "float": "float", "double": "float", "varchar": "str", "boolean": "bool",
    "date": "datetime", "timestamp": "datetime",
}
_SPARK_CLASS = {
    "ByteType": "int", "ShortType": "int", "IntegerType": "int", "LongType": "int",
    "FloatType": "float", "DoubleType": "float", "StringType": "str", "BooleanType": "bool",
    "DateType": "datetime", "TimestampType": "datetime", "TimestampNTZType": "datetime",
}

#: plan-shape counters: regex over ``executedPlan().toString()``;
#: ``codegen_spans`` counts distinct ``*(<span>)`` WholeStageCodegen ids
_PLAN_COUNTERS = {
    "exchanges": r"Exchange hashpartitioning|Exchange rangepartitioning|Exchange SinglePartition",
    "broadcasts": r"BroadcastExchange",
    "sorts": r"\bSort \[",
    "python_arrow": r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas|FlatMapGroupsInPandasWithState",
    "python_row": r"BatchEvalPython",
    "scans": r"FileScan parquet|Scan ExistingRDD|LocalTableScan",
    "nested_loop": r"BroadcastNestedLoopJoin",
    "cartesian": r"CartesianProduct",
}


def duck_class(t) -> str:
    """Dtype class of a DuckDB relation column type."""
    return _DUCK_CLASS.get(t.id, t.id)


def spark_class(dt) -> str:
    """Dtype class of a Spark schema field type."""
    name = type(dt).__name__
    return _SPARK_CLASS.get(name, name)


def _normalize(df: pd.DataFrame, classes: dict[str, str]) -> pd.DataFrame:
    """Cast each column by its schema class, then sort rows on all columns."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col, k = df[c], classes[c]
        if k == "datetime":
            df[c] = pd.to_datetime(col).astype("datetime64[us]")
        elif k == "float":
            df[c] = col.astype("float64")
        elif k == "int":
            df[c] = col.astype("Int64")
        elif k == "bool":
            df[c] = col.astype("boolean")
        elif k == "str":
            df[c] = col.astype(str).where(col.notna(), None)
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(
    got: pd.DataFrame,
    got_classes: dict[str, str],
    want: pd.DataFrame,
    want_classes: dict[str, str],
    strict: bool = False,
) -> list[str]:
    """Mismatches between a Spark result and its oracle (empty = exact).

    ``*_classes`` map column -> dtype class (``spark_class`` /
    ``duck_class``).  Floats match within a 1e-9 relative band, or bit
    for bit when ``strict``; every other class matches exactly."""
    errs = []
    if len(got) != len(want):
        errs.append(f"rowcount {len(got)} != {len(want)}")
    if sorted(got.columns) != sorted(want.columns):
        errs.append(f"columns {sorted(got.columns)} != {sorted(want.columns)}")
        return errs
    bad_types = [
        f"{c} {got_classes[c]} != {want_classes[c]}"
        for c in sorted(got.columns) if got_classes[c] != want_classes[c]
    ]
    if bad_types:
        errs.append("types " + ", ".join(bad_types))
    if errs:
        return errs
    g, w = _normalize(got, got_classes), _normalize(want, got_classes)
    for c in g.columns:
        a, b = g[c], w[c]
        both_na = (a.isna() & b.isna()).to_numpy(dtype=bool)
        if got_classes[c] == "float":
            x, y = a.to_numpy(), b.to_numpy()
            same = x == y
            if not strict:
                same |= np.abs(x - y) <= 1e-9 * (1 + np.abs(y))
        else:
            same = (a == b).fillna(False).to_numpy(dtype=bool)
        bad = ~(same | both_na)
        if bad.any():
            i = int(bad.argmax())
            errs.append(f"col {c}: {int(bad.sum())} mismatches, first: {a[i]!r} != {b[i]!r}")
    return errs


def check_query(fn, spark, sf_dir: str, con, oracle: str | None, strict: bool) -> dict:
    """One query against its oracle; every failure becomes a result row."""
    try:
        sdf = fn(spark, sf_dir)
        got_classes = {f.name: spark_class(f.dataType) for f in sdf.schema.fields}
        got = sdf.toPandas()
    except Exception as e:  # noqa: BLE001 - one query's failure must not stop the walk
        return {"exact": False, "err": f"spark: {e}"[:300]}
    row: dict = {"rows": len(got)}
    if strict:
        row["float_cols"] = [c for c, k in got_classes.items() if k == "float"]
    if oracle is None:
        return {"exact": False, **row, "err": "no oracle"}
    try:
        rel = con.sql(oracle)
        want_classes = {c: duck_class(t) for c, t in zip(rel.columns, rel.types)}
        want = rel.df()
    except Exception as e:  # noqa: BLE001
        return {"exact": False, **row, "err": f"oracle: {e}"[:300]}
    errs = compare(got, got_classes, want, want_classes, strict)
    if errs:
        return {"exact": False, **row, "err": "; ".join(errs[:4])[:300]}
    return {"exact": True, **row}


def check_all(qs: dict, oracles: dict, spark, sf_dir: str, con, strict: bool = False) -> dict:
    results = {}
    for name, fn in qs.items():
        r = results[name] = check_query(fn, spark, sf_dir, con, oracles.get(name), strict)
        if r["exact"]:
            print(f"   OK  {name}: rows={r['rows']}", flush=True)
        else:
            print(f"FAIL  {name}: {r['err']}", flush=True)
    return results


def plan_counts(plan: str) -> dict:
    counts = {k: len(re.findall(rx, plan)) for k, rx in _PLAN_COUNTERS.items()}
    counts["codegen_spans"] = len(set(re.findall(r"\*\((\d+)\)", plan)))
    return counts


def plan_all(qs: dict, spark, sf_dir: str) -> dict:
    """Plan-shape counters per query.  AQE is off for the walk: an
    unexecuted AdaptiveSparkPlan hides the ``*(n)`` codegen markers, and
    its final shape differs only by coalescing."""
    key = "spark.sql.adaptive.enabled"
    aqe = spark.conf.get(key)
    spark.conf.set(key, "false")
    results = {}
    try:
        for name, fn in qs.items():
            try:
                plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
            except Exception as e:  # noqa: BLE001
                results[name] = {"error": str(e)[:200]}
                print(f"ERROR {name}: {results[name]['error']}", flush=True)
                continue
            results[name] = plan_counts(plan)
    finally:
        spark.conf.set(key, aqe)
    return results


def _plan_summary(results: dict) -> dict:
    """Totals over the planned queries, plus a table ranked by shuffles."""
    ok = {n: r for n, r in results.items() if "error" not in r}
    totals = {k: sum(r[k] for r in ok.values()) for k in (*_PLAN_COUNTERS, "codegen_spans")}
    width = max(map(len, results), default=5)
    print(f"{'query'.ljust(width)}  exch  bcast  sort  arrow  rowpy  wscg  scans")
    for n, r in sorted(ok.items(), key=lambda kv: -kv[1]["exchanges"]):
        print(
            f"{n.ljust(width)}  {r['exchanges']:4d}  {r['broadcasts']:5d}"
            f"  {r['sorts']:4d}  {r['python_arrow']:5d}  {r['python_row']:5d}"
            f"  {r['codegen_spans']:4d}  {r['scans']:5d}"
        )
    return {"totals": totals, "row_at_a_time_python_total": totals["python_row"]}


_WHAT = {
    "values": "full local replay of the driver correctness gate over every "
              "registered query: row count, column names, dtype class, values "
              "(floats within 1e-9 relative)",
    "strict": "strict-bit float audit: the values check with every float "
              "column compared bit for bit",
    "plan": "physical-plan shape audit of every driver-contract query "
            "(analyzed with AQE off, not executed; shape is data-independent)",
}


def run(sf_dir: str, mode: str = "values", only: str = "", spark=None) -> dict:
    """Walk the registry in ``mode``; return the snapshot dict."""
    import duckdb

    import __spark_entry__ as entry
    from mq_to_db_spark.session import get_spark

    spark = spark or get_spark(app_name=f"contract-{mode}")
    qs = entry.queries()
    if only:
        wanted = {n.strip() for n in only.split(",") if n.strip()}
        qs = {n: f for n, f in qs.items() if n in wanted}
    snap: dict = {"what": _WHAT[mode], "mode": mode, "sf_dir": sf_dir, "n_queries": len(qs)}
    if mode == "plan":
        results = plan_all(qs, spark, sf_dir)
        snap.update(_plan_summary(results))
        snap["n_failed"] = sum("error" in r for r in results.values())
    else:
        with duckdb.connect() as con:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            results = check_all(qs, entry.oracle_sql(), spark, sf_dir, con, mode == "strict")
        snap["n_exact"] = sum(bool(r["exact"]) for r in results.values())
        snap["n_failed"] = len(results) - snap["n_exact"]
        try:
            df = entry.entry(spark)
            snap["entry"] = {"rows": df.count(), "columns": df.columns}
        except Exception as e:  # noqa: BLE001
            snap["entry"] = {"err": str(e)[:300]}
            snap["n_failed"] += 1
        print(f"entry(): {snap['entry']}")
        print(f"{mode}: {snap['n_exact']}/{len(results)} exact")
    snap["queries"] = results
    return snap


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", help="directory holding the contract's parquet tables")
    ap.add_argument("--mode", choices=sorted(_WHAT), default="values")
    ap.add_argument("--only", default="", help="comma-separated query names")
    ap.add_argument("--json", default="", help="write the snapshot here")
    args = ap.parse_args(argv)

    snap = run(args.sf_dir, args.mode, args.only)
    out = args.json or (os.path.join(REPO, "BENCH", "PLAN_AUDIT.json") if args.mode == "plan" else "")
    if out:
        snap["git_head"] = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=REPO,
        ).stdout.strip()
        with open(out, "w") as f:
            json.dump(snap, f, indent=1)
        print(f"snapshot -> {out}")
    return 1 if snap["n_failed"] else 0


if __name__ == "__main__":
    sys.exit(main())
