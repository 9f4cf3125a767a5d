"""HyperLogLog sketch (operators/hll.py): register-exact replay,
merge == direct build, accuracy bands, linear-counting branch, plan."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import pytest
from pyspark.sql import functions as F

from mq_to_db_spark.operators.hll import (
    DEFAULT_P,
    hll_estimate,
    hll_merge,
    hll_sketch,
)


def _py_hash60(value, seed=42) -> int:
    return int(hashlib.md5(f"{seed}:{value}".encode()).hexdigest()[:15], 16)


def _py_registers(values, p=DEFAULT_P, seed=42):
    wbits = 60 - p
    regs: dict[int, int] = {}
    for v in values:
        h = _py_hash60(v, seed)
        j = h >> wbits
        w = h % (1 << wbits)
        rho = (wbits + 1) if w == 0 else (wbits + 1 - w.bit_length())
        regs[j] = max(regs.get(j, 0), rho)
    return regs


def _py_estimate(regs, p=DEFAULT_P):
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    s = 0.0
    for j in sorted(regs):
        s = s + 1.0 / (1 << regs[j])
    n_zero = m - len(regs)
    raw = (alpha * m) * float(m) / (float(n_zero) + s)
    if raw <= 2.5 * m and n_zero > 0:
        return float(m) * math.log(float(m) / n_zero)
    return raw


def _df(spark, n, day=1):
    rows = [(f"u{i}", dt.datetime(2024, 1, day, i % 24)) for i in range(n)]
    return spark.createDataFrame(rows, "uid string, ts timestamp")


def test_registers_match_pure_python_replay(spark):
    """The whole sketch — every (j, rho) register — equals a from-
    scratch python replay of the md5 coin (the same property the
    DuckDB oracle relies on)."""
    df = _df(spark, 500)
    got = hll_sketch(df, [], "uid", tier="1d").first()["hll"]
    want = _py_registers([f"u{i}" for i in range(500)])
    assert dict(got) == want


def test_estimate_matches_python_bitwise_and_is_accurate(spark):
    for n in (40, 500, 5000):
        df = _df(spark, n)
        est = hll_estimate(hll_sketch(df, [], "uid", tier="1d")).first()
        want = _py_estimate(_py_registers([f"u{i}" for i in range(n)]))
        assert est["estimate"] == want  # bit-identical incl. ln branch
        # 512 registers -> ~4.6% std error; allow 4 sigma
        assert abs(est["estimate"] - n) / n < 0.20, (n, est["estimate"])


def test_merge_equals_direct_build_register_for_register(spark):
    """1h sketches merged to 1d == the direct 1d build, exactly —
    the continuous-aggregate invariant (register-wise max is
    associative + idempotent)."""
    df = _df(spark, 3000)
    h1 = hll_sketch(df, [], "uid", tier="1h")
    merged = hll_merge(h1, [], F.date_trunc("day", "bucket_start")).first()
    direct = hll_sketch(df, [], "uid", tier="1d").first()
    assert dict(merged["hll"]) == dict(direct["hll"])
    # idempotence: merging the merged sketch with itself changes nothing
    d1 = hll_sketch(df, [], "uid", tier="1d")
    twice = hll_merge(
        d1.unionByName(d1), [], F.date_trunc("day", "bucket_start")
    ).first()
    assert dict(twice["hll"]) == dict(direct["hll"])


def test_duplicates_and_nulls(spark):
    """Duplicates never move a register (idempotent); NULLs excluded."""
    rows = [("a", dt.datetime(2024, 1, 1))] * 50 + [
        ("b", dt.datetime(2024, 1, 1)),
        (None, dt.datetime(2024, 1, 1)),
    ]
    df = spark.createDataFrame(rows, "uid string, ts timestamp")
    sk = hll_sketch(df, [], "uid", tier="1d").first()["hll"]
    assert dict(sk) == _py_registers(["a", "b"])
    est = hll_estimate(hll_sketch(df, [], "uid", tier="1d")).first()
    # linear-counting regime: m ln(m / (m-2))
    m = 1 << DEFAULT_P
    assert est["estimate"] == m * math.log(m / float(m - 2))


def test_key_isolation_and_p_validation(spark):
    rows = [("k1", f"u{i}", dt.datetime(2024, 1, 1)) for i in range(100)] + [
        ("k2", f"v{i}", dt.datetime(2024, 1, 1)) for i in range(7)
    ]
    df = spark.createDataFrame(rows, "k string, uid string, ts timestamp")
    out = {
        r["k"]: dict(r["hll"])
        for r in hll_sketch(df, ["k"], "uid", tier="1d").collect()
    }
    assert out["k1"] == _py_registers([f"u{i}" for i in range(100)])
    assert out["k2"] == _py_registers([f"v{i}" for i in range(7)])
    with pytest.raises(ValueError, match="p must be"):
        hll_sketch(df, ["k"], "uid", p=3)


def test_small_p_alpha_is_standard_constant(spark):
    """p = 4 (m = 16) uses Flajolet et al.'s alpha = 0.673, not the
    asymptotic formula; with every register set the estimate is the raw
    closed form alpha * m^2 / sum(2^-rho), bit for bit.  p outside
    [4, 16] is rejected at estimate time as at build time."""
    n = 1000
    sk = hll_sketch(_df(spark, n), [], "uid", p=4, tier="1d")
    regs = _py_registers([f"u{i}" for i in range(n)], p=4)
    assert len(regs) == 16  # no zero register: the raw-estimate branch
    s = 0.0
    for j in sorted(regs):
        s = s + 1.0 / (1 << regs[j])
    assert hll_estimate(sk, p=4).first()["estimate"] == (0.673 * 16) * 16.0 / s
    for bad in (3, 17):
        with pytest.raises(ValueError, match="p must be"):
            hll_estimate(sk, p=bad)


def test_register_index_past_p_gives_null_estimate(spark):
    """A p = 8 sketch read at p = 4 holds register indices ≥ 16, which
    would make the zero-register count negative: its ``n_zero_regs`` and
    ``estimate`` are NULL, while the same sketch read at its own p is
    estimated as usual."""
    n = 200
    sk = hll_sketch(_df(spark, n), [], "uid", p=8, tier="1d")
    regs = _py_registers([f"u{i}" for i in range(n)], p=8)
    assert max(regs) >= 16 and len(regs) > 16
    bad = hll_estimate(sk, p=4).first()
    assert bad["n_regs_set"] == len(regs)
    assert bad["n_zero_regs"] is None and bad["estimate"] is None
    good = hll_estimate(sk, p=8).first()
    assert good["n_zero_regs"] == 256 - len(regs)
    assert good["estimate"] == _py_estimate(regs, p=8)


def test_plan_two_hash_aggs_no_python(spark):
    """Build = exactly the two hash aggregations the docstring claims
    (j-register max, then map assembly), all JVM-side."""
    df = _df(spark, 100)
    plan = (
        hll_sketch(df, [], "uid", tier="1h")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert plan.count("HashAggregate") in (4, 6)  # partial+final per agg
