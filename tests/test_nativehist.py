"""Native exponential histograms (operators/nativehist.py), the sliding
distinct-count (resample.over_time_grid distinct_col) and the epoch
shuffle (sampling.epoch_shuffle) — correctness properties + plan shape.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mq_to_db_spark.operators.nativehist import (
    cascade_exp_histogram,
    exp_hist_explode,
    exp_hist_quantile,
    exp_histogram,
)
from mq_to_db_spark.operators.resample import over_time_grid
from mq_to_db_spark.operators.sampling import epoch_shuffle


@pytest.fixture(scope="module")
def valdf(spark):
    rows = [
        ("a", "2024-01-01 00:10:00", 1.0),
        ("a", "2024-01-01 00:20:00", 3.0),
        ("a", "2024-01-01 00:40:00", 4.0),
        ("a", "2024-01-01 01:10:00", 0.0),
        ("a", "2024-01-01 01:20:00", -0.7),
        ("a", "2024-01-01 01:30:00", -5.0),
        ("b", "2024-01-01 02:00:00", 1024.0),
        ("b", "2024-01-02 02:00:00", 0.3),
    ]
    return (
        spark.createDataFrame(rows, "k string, ts string, v double")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .cache()
    )


def _h1(valdf):
    return exp_histogram(valdf, "1h", "v", keys=["k"])


def test_exp_histogram_buckets_signs_zero(valdf):
    rows = {
        (r.k, str(r.bucket_start)): r
        for r in _h1(valdf).collect()
    }
    r0 = rows[("a", "2024-01-01 00:00:00")]
    # 1.0 → idx 0 (bucket (0.5, 1]); 3.0, 4.0 → idx 2 (bucket (2, 4])
    assert dict(r0.hist) == {0: 1, 2: 2} and dict(r0.neg_hist) == {}
    assert (r0["count"], r0.zero_count, r0.sum) == (3, 0, 8.0)
    r1 = rows[("a", "2024-01-01 01:00:00")]
    # -0.7 mirrors to neg idx 0 (NOT the positive map — sign collision
    # guard), -5.0 to neg idx 3; 0.0 is the zero bucket
    assert dict(r1.hist) == {} and dict(r1.neg_hist) == {0: 1, 3: 1}
    assert (r1["count"], r1.zero_count) == (3, 1)
    # sub-1 positive value: 0.3 ∈ (0.25, 0.5] → idx −1 (negative INDEX,
    # positive span)
    r2 = rows[("b", "2024-01-02 02:00:00")]
    assert dict(r2.hist) == {-1: 1}


def test_exp_histogram_bounds_invariant(valdf):
    # every positive value v must satisfy 2^(idx−1) < v ≤ 2^idx
    ex = valdf.filter(F.col("v") > 0).select(
        "v",
        F.ceil(F.log2("v")).cast("int").alias("idx"),
    )
    for r in ex.collect():
        assert 2.0 ** (r.idx - 1) < r.v <= 2.0**r.idx


@pytest.mark.parametrize("schema", [1, 2, 3])
def test_exp_histogram_higher_schemas(spark, schema):
    # integers 1..4096: bucket bounds base^(i−1) < v ≤ base^i must hold
    # for every value at every schema (the float-boundary safety claim)
    df = spark.range(1, 4097).select(
        F.lit("k").alias("k"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        F.col("id").cast("double").alias("v"),
    )
    h = exp_histogram(df, "1h", "v", keys=["k"], schema=schema)
    base = 2.0 ** (2.0**-schema)
    total = 0
    for idx, n in exp_hist_explode(h, keys=["k"]).select("bucket_idx", "n").collect():
        lo, hi = base ** (idx - 1), base**idx
        expect = max(0, math.floor(hi + 1e-9) - math.floor(lo + 1e-9))
        assert n == expect, (schema, idx, n, expect)
        total += n
    assert total == 4096


def test_cascade_merge_equals_direct(valdf):
    # merging 1h sketches into 1d must equal histogramming at 1d directly
    via_cascade = cascade_exp_histogram(_h1(valdf), "1d", keys=["k"])
    direct = exp_histogram(valdf, "1d", "v", keys=["k"])
    a = {
        (r.k, str(r.bucket_start)): (r["count"], r.zero_count, r.sum,
                                     dict(r.hist), dict(r.neg_hist))
        for r in via_cascade.collect()
    }
    b = {
        (r.k, str(r.bucket_start)): (r["count"], r.zero_count, r.sum,
                                     dict(r.hist), dict(r.neg_hist))
        for r in direct.collect()
    }
    assert a == b


def test_quantile_error_bound(spark):
    # estimator must land within one bucket factor (base=2 at schema 0)
    # of the exact quantile, for a few deterministic value sets
    vals = [float(3 + 7 * i % 997) + 1.0 for i in range(500)]
    df = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00", v) for v in vals],
        "k string, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    h = exp_histogram(df, "1h", "v", keys=["k"])
    for q in (0.1, 0.5, 0.9):
        est = exp_hist_quantile(h, q, keys=["k"]).first().qv
        exact = sorted(vals)[int(q * len(vals))]
        assert exact / 2 <= est <= exact * 2, (q, est, exact)


def test_exp_histogram_plan_jvm_only(valdf):
    plan = _h1(valdf)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "BatchEval" not in plan


def test_over_time_distinct(spark):
    rows = [
        ("a", "2024-01-01 00:05:00", 1, 10),
        ("a", "2024-01-01 00:25:00", 2, 10),  # same user twice
        ("a", "2024-01-01 00:45:00", 3, 20),
        ("a", "2024-01-01 02:05:00", 4, 30),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts string, event_id long, user_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
        "v", F.lit(1).cast("long")
    )
    out = over_time_grid(
        df, ["event_type"], value_col="v", range_s=3600, step_s=600,
        tiebreak=("event_id",), distinct_col="user_id",
    )
    got = {str(r.grid_ts): (r.n_samples, r.n_distinct) for r in out.collect()}
    # at 00:50 the window (−1h, 00:50] holds users {10, 10, 20} → 2
    assert got["2024-01-01 00:50:00"] == (3, 2)
    # at 01:30 only the 00:45 sample remains → 1 distinct
    assert got["2024-01-01 01:30:00"] == (1, 1)
    # union of per-sample instant fans: 00:05 → 6, 00:25 adds 2 (01:10,
    # 01:20), 00:45 adds 2 (01:30, 01:40), 02:05 adds 6 ⇒ 16 instants
    assert len(got) == 16


def test_epoch_shuffle_properties(spark):
    docs = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    out = epoch_shuffle(docs, "doc_id", epoch=1, n_shards=8).cache()
    rows = out.collect()
    assert len(rows) == 1000
    # shard sizes differ by at most 1 (round-robin, not hash-mod)
    sizes = {r.shard: r.n for r in out.groupBy("shard").agg(F.count("*").alias("n")).collect()}
    assert set(sizes) == set(range(8))
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # (shard, pos) is a bijection onto 0..999
    assert len({(r.shard, r.pos) for r in rows}) == 1000
    # determinism across re-runs and repartitioning
    again = {
        (r.doc_id, r.shard, r.pos)
        for r in epoch_shuffle(
            docs.repartition(7), "doc_id", epoch=1, n_shards=8
        ).collect()
    }
    assert again == {(r.doc_id, r.shard, r.pos) for r in rows}
    # a different epoch re-permutes (at least one doc moves)
    other = {
        (r.doc_id, r.shard, r.pos)
        for r in epoch_shuffle(docs, "doc_id", epoch=2, n_shards=8).collect()
    }
    assert other != again


def test_epoch_shuffle_no_single_partition_window(spark):
    # distinct lineage from the cached frame in the properties test —
    # cache reuse would splice the InMemoryRelation's plan text in twice
    docs = spark.range(0, 999).select(F.col("id").alias("doc_id"))
    plan = (
        epoch_shuffle(docs, "doc_id", epoch=3, n_shards=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the global rank window must be per-range-bucket, never keyless…
    assert "windowspecdefinition(_rb" in plan
    assert "windowspecdefinition(1," not in plan
    # …and the only SinglePartition exchange is the tiny carry spine
    assert plan.count("Exchange SinglePartition") <= 1
    assert "Python" not in plan


def test_fraction_bounds_and_monotonicity(spark):
    from mq_to_db_spark.operators.nativehist import exp_hist_fraction

    vals = [float(v) for v in range(1, 201)]
    df = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00", v) for v in vals],
        "k string, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    h = exp_histogram(df, "1h", "v", keys=["k"]).cache()
    prev = -1.0
    for upper in (0.4, 1.0, 3.0, 64.0, 150.0, 4096.0):
        frac = exp_hist_fraction(h, upper, keys=["k"]).first().fraction
        exact = sum(1 for v in vals if v <= upper) / len(vals)
        # within one bucket factor of the exact share, and monotone
        lo_bound = sum(1 for v in vals if v <= upper / 2) / len(vals)
        hi_bound = sum(1 for v in vals if v <= upper * 2) / len(vals)
        assert lo_bound <= frac <= hi_bound, (upper, frac, exact)
        assert frac >= prev
        prev = frac
    assert exp_hist_fraction(h, 4096.0, keys=["k"]).first().fraction == 1.0


def test_exp_hist_stats_hand_computed(spark):
    """Sketch {1: 2, 3: 1} at schema 0 -> mids 1.5 and 6.0:
    N=3, mean=(2*1.5+6)/3=3, var=(2*2.25+36)/3-9=4.5, std=sqrt(4.5)."""
    import math

    from mq_to_db_spark.operators.nativehist import exp_hist_stats

    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), {1: 2, 3: 1}), (dt.datetime(2024, 1, 2), {})],
        "bucket_start timestamp, hist map<int,bigint>",
    )
    rows = {r["bucket_start"].day: r for r in exp_hist_stats(df).collect()}
    r = rows[1]
    assert (r["n_obs"], r["mean"]) == (3, 3.0)
    assert abs(r["stddev"] - math.sqrt(4.5)) < 1e-12
    # empty sketch -> zero observations, NULL stats
    assert rows[2]["n_obs"] == 0 and rows[2]["mean"] is None and rows[2]["stddev"] is None


def test_exp_hist_stats_zero_shuffle_plan(spark):
    import datetime as dt

    from mq_to_db_spark.operators.nativehist import exp_hist_stats

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), {1: 2})],
        "bucket_start timestamp, hist map<int,bigint>",
    )
    plan = exp_hist_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure per-row projection
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_exp_hist_stats_exact_hand_computed(spark):
    """Same sketch {1: 2, 3: 1} as the float test: s1_x4 = 4*(2*1.5+6)
    = 36 = 2*3*2^1 + 1*3*2^3; s2_x16 = 16*(2*2.25+36) = 648
    = 2*9*4^1 + 1*9*4^3.  Recovered float moments match exp_hist_stats
    bit-for-bit; out-of-bound indices NULL the sums, never mis-sum."""
    import datetime as dt

    from mq_to_db_spark.operators.nativehist import (
        exp_hist_stats,
        exp_hist_stats_exact,
    )

    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1), {1: 2, 3: 1}),
            (dt.datetime(2024, 1, 2), {}),
            (dt.datetime(2024, 1, 3), {-1: 5}),   # idx < 0: out of bounds
            (dt.datetime(2024, 1, 4), {30: 1}),   # idx > 29: out of bounds
        ],
        "bucket_start timestamp, hist map<int,bigint>",
    )
    rows = {r["bucket_start"].day: r for r in exp_hist_stats_exact(df).collect()}
    assert (rows[1]["n_obs"], rows[1]["s1_x4"], rows[1]["s2_x16"]) == (3, 36, 648)
    assert (rows[2]["n_obs"], rows[2]["s1_x4"], rows[2]["s2_x16"]) == (0, 0, 0)
    for day in (3, 4):
        assert rows[day]["s1_x4"] is None and rows[day]["s2_x16"] is None
    # recovered moments == the float API on the in-bounds sketch
    f = exp_hist_stats(df.limit(1)).first()
    n, s1, s2 = rows[1]["n_obs"], rows[1]["s1_x4"], rows[1]["s2_x16"]
    mean = s1 / (4.0 * n)
    var = s2 / (16.0 * n) - mean * mean
    assert f["mean"] == mean
    assert f["stddev"] == var ** 0.5


def test_exp_hist_stats_exact_zero_shuffle_plan(spark):
    import datetime as dt

    from mq_to_db_spark.operators.nativehist import exp_hist_stats_exact

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), {1: 2})],
        "bucket_start timestamp, hist map<int,bigint>",
    )
    plan = (
        exp_hist_stats_exact(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_exp_hist_stats_exact_sum_past_bigint_is_null(spark):
    """Under ANSI the BIGINT fold returns NULL past its bound instead of
    aborting: 4 observations at idx 29 overflow ``s2_x16`` in the term
    (4·9·4²⁹ > 2⁶³), {29: 3, 28: 3} in the running sum; 3 at idx 29
    still fits exactly."""
    import datetime as dt

    from mq_to_db_spark.operators.nativehist import exp_hist_stats_exact

    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1), {29: 3}),
            (dt.datetime(2024, 1, 2), {29: 4}),
            (dt.datetime(2024, 1, 3), {29: 3, 28: 3}),
        ],
        "bucket_start timestamp, hist map<int,bigint>",
    )
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    rows = {r["bucket_start"].day: r for r in exp_hist_stats_exact(df).collect()}
    assert rows[1]["s1_x4"] == 3 * 3 * 2**29
    assert rows[1]["s2_x16"] == 3 * 9 * 4**29
    assert rows[2]["n_obs"] == 4 and rows[2]["s1_x4"] == 4 * 3 * 2**29
    assert rows[2]["s2_x16"] is None
    assert rows[3]["n_obs"] == 6 and rows[3]["s2_x16"] is None
