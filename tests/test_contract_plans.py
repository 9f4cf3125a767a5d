"""Plan hygiene across the ENTIRE driver contract: every query in
``__spark_entry__.queries()`` must plan without the two quadratic
physical operators (CartesianProduct, BroadcastNestedLoopJoin) — the
patterns that silently turn a working sf0.01 query into a 100 TB
non-starter.  Catches regressions the per-operator plan tests miss
(e.g. a join rewritten by a refactor into a cross product because its
equi-keys stopped resolving).

Runs against sf0.001 parquet (plan shape is data-independent; the tiny
sf keeps the analysis fast).  Queries are planned, not executed.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF_DIR", "/root/testdata/sf0.001")

_FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")

#: intentional broadcast-bounded cross joins — NOT quadratic blowups:
#: the non-broadcast side streams once and output cardinality equals it
_WHITELIST = {
    # gapfill.py:50 — series × broadcast(1-row min/max extent): the
    # dense-grid materialization itself, output = |series| · |grid|
    "gapfill_1h": ("BroadcastNestedLoopJoin",),
    # similarity.py:229 — knn_join_brute is the documented small-right
    # broadcast baseline (the scale path is knn_join_lsh, banded equi)
    "knn_join": ("BroadcastNestedLoopJoin",),
    # ranking.py — corpus × broadcast(1-row N/Σdl/df stats): output
    # cardinality equals the corpus side, O(N) by construction
    "bm25_topk": ("BroadcastNestedLoopJoin",),
    # lm.py:bigram_lm_scores — token stream × broadcast(1-row vocab
    # size V): the add-one denominator; output cardinality equals the
    # stream side, same shape as bm25_topk's corpus-stats broadcast
    "lm_perplexity": ("BroadcastNestedLoopJoin",),
    # survival.py:conv_lifetimes — lifetimes × broadcast(1-row corpus
    # max ts): the censoring horizon; output = |convs|
    "survival_conv": ("BroadcastNestedLoopJoin",),
    # ranking.py:zipf_fit — 1-row fold result × broadcast(1-row
    # vocab/total stats): a 1×1 join
    "zipf_fit": ("BroadcastNestedLoopJoin",),
    # intervals.py:staleness → timegrid.step_grid(keys, global_extent): series ×
    # broadcast(1-row global extent) — same grid materialization as
    # gapfill_1h, output = |series| · |grid|
    "staleness_1h": ("BroadcastNestedLoopJoin",),
    # __spark_entry__:q_wow_delta_1h → timegrid.step_grid(keys, global_extent): the
    # offset comparison requires the ZERO-FILLED per-key grid (a row
    # lag is only a time lag on a dense series), so it inherits the
    # same series × broadcast(1-row extent) grid build
    "wow_delta_1h": ("BroadcastNestedLoopJoin",),
    # __spark_entry__:q_alert_silences — the maintenance CALENDAR build:
    # distinct event_types × broadcast(14-row day spine), both sides
    # config-sized literals (output = 140 silence rows).  The actual
    # episode−silence subtraction is a BroadcastHashJoin on the key
    # (plan shows it directly above the whitelisted cross).
    "alert_silences": ("BroadcastNestedLoopJoin",),
    # sampling.py:sample_mixture — domain-count table × broadcast(1-row
    # normalizer Σ n^α): domain cardinality is config-sized (thousands
    # at most), output = |domains|; the corpus itself joins the rate
    # table by a BroadcastHashJoin on the domain key (visible directly
    # above the whitelisted cross in the plan)
    "mixture_sample": ("BroadcastNestedLoopJoin",),
    # decay.py:decayed_scores — tier × broadcast(1-row max-bucket
    # asof): the decay anchor; output = |tier|
    "decay_topk": ("BroadcastNestedLoopJoin",),
    # drift.py:psi — period spine × broadcast(nb-row literal bucket
    # grid) and counts × broadcast(1-row total): both config-sized,
    # output = |periods| · nb
    "psi_1d": ("BroadcastNestedLoopJoin",),
    # skewaudit.py:skew_audit — ranked tier × broadcast(1-row
    # n/total/s1 aggregate): output = |keys|
    "skew_audit": ("BroadcastNestedLoopJoin",),
    # layout.py:zorder_keys — rows × broadcast(1-row ts min/max
    # extent): the range-scaling anchor; output = |rows|
    "zorder_keys": ("BroadcastNestedLoopJoin",),
    # __spark_entry__:q_asap_1h — dense-grid build (timegrid.step_grid,
    # global_extent): |event_type| distinct rows × broadcast(1-row
    # extent), exploded to the hour spine: output = |grid| · |types|,
    # the same zero-fill grid materialization as gapfill_1h
    "asap_1h": ("BroadcastNestedLoopJoin",),
    # same _dense_hourly grid build as asap_1h
    "backtest_naive_1d": ("BroadcastNestedLoopJoin",),
}


def _queries():
    import __spark_entry__ as entry

    return sorted(entry.queries().items())


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata absent")
@pytest.mark.parametrize("name,fn", _queries(), ids=[n for n, _ in _queries()])
def test_no_quadratic_join_in_plan(spark, name, fn):
    df = fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    allowed = _WHITELIST.get(name, ())
    for op in _FORBIDDEN:
        if op in allowed:
            # whitelisted BNLJ must still be a *broadcast* of something:
            # a CartesianProduct is never acceptable
            continue
        assert op not in plan, f"{name}: {op} in physical plan\n{plan[:2000]}"
