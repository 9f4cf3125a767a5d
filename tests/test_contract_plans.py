"""Plan hygiene across the ENTIRE driver contract: every query in
``__spark_entry__.queries()`` must plan without the two quadratic
physical operators (CartesianProduct, BroadcastNestedLoopJoin) — the
patterns that silently turn a working sf0.01 query into a 100 TB
non-starter.  Catches regressions the per-operator plan tests miss
(e.g. a join rewritten by a refactor into a cross product because its
equi-keys stopped resolving).

A query whose plan legitimately holds one of them (a cross join against
a broadcast one-row or config-sized side, whose output cardinality
equals the streamed side) names it in its ``@contract(plan_allows=...)``
registration in ``__spark_entry__.py``, with the reason in a comment
beside it.

Runs against sf0.001 parquet (plan shape is data-independent; the tiny
sf keeps the analysis fast).  Queries are planned, not executed.
"""

from __future__ import annotations

import ast
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", "/root/testdata/sf0.001")

_FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")


def test_every_body_is_registered_once_under_its_own_name():
    """Every top-level ``q_<name>`` in the contract module carries one
    ``@contract`` registration, in file order, under ``<name>``."""
    tree = ast.parse(Path(entry.__file__).read_text())
    bodies = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name.startswith("q_")]
    for fn in bodies:
        regs = [
            d for d in fn.decorator_list
            if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "contract"
        ]
        assert len(regs) == 1, fn.name
    assert [fn.name.removeprefix("q_") for fn in bodies] == list(entry.CONTRACT)
    for name, q in entry.CONTRACT.items():
        assert q.body.__name__ == f"q_{name}"
    assert list(entry.queries()) == list(entry.oracle_sql()) == list(entry.CONTRACT)


def test_every_registration_has_an_oracle():
    for name, sql in entry.oracle_sql().items():
        assert isinstance(sql, str) and sql.strip(), name


def test_plan_allowances_name_forbidden_operators():
    allowed = {name: q.plan_allows for name, q in entry.CONTRACT.items() if q.plan_allows}
    assert allowed
    for name, ops in allowed.items():
        assert ops and set(ops) <= set(_FORBIDDEN), name


def test_bench_headline_is_the_tagged_set():
    import bench

    tagged = [name for name, q in entry.CONTRACT.items() if q.headline]
    # frozen at round 2's 9 driver-table queries (bench.py docstring)
    assert bench.headline_queries() == tagged and len(tagged) == 9


def _queries():
    return sorted(entry.queries().items())


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata absent")
@pytest.mark.parametrize("name,fn", _queries(), ids=[n for n, _ in _queries()])
def test_no_quadratic_join_in_plan(spark, name, fn):
    df = fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    allowed = entry.CONTRACT[name].plan_allows
    for op in _FORBIDDEN:
        if op in allowed:
            continue
        assert op not in plan, f"{name}: {op} in physical plan\n{plan[:2000]}"
