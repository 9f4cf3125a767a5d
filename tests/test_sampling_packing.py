"""Sampling / splitting / packing / top-k operator tests.

Covers the training-data plane added in round 3: deterministic
hash-based sampling (operators/sampling.py), next-fit sequence packing
(operators/packing.py), and exact per-window heavy hitters
(operators/topk.py).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mq_to_db_spark.operators.packing import pack_sequences
from mq_to_db_spark.operators.sampling import (
    HASH_SPACE,
    assign_split,
    hash_u60,
    sample_bernoulli,
    sample_stratified,
)
from mq_to_db_spark.operators.topk import top_k_per_window


@pytest.fixture(scope="module")
def docs(spark):
    langs = ["en", "de", "fr", "es"]
    rows = [
        (i, langs[i % 4], (i * 37) % 900 + 5)  # tokens in [5, 904]
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long").cache()
    df.count()
    return df


def test_hash_u60_range_and_determinism(spark, docs):
    u = docs.select(hash_u60("doc_id", seed=7).alias("u"))
    lo, hi = u.agg(F.min("u"), F.max("u")).first()
    assert 0 <= lo and hi < HASH_SPACE
    a = sorted(r.u for r in u.collect())
    b = sorted(r.u for r in docs.select(hash_u60("doc_id", seed=7).alias("u")).collect())
    assert a == b
    # different seed ⇒ different draws
    c = sorted(
        r.u for r in docs.select(hash_u60("doc_id", seed=8).alias("u")).collect()
    )
    assert a != c


def test_sample_bernoulli_rate_and_stability(spark, docs):
    kept = sample_bernoulli(docs, "doc_id", rate=0.25, seed=42)
    n = kept.count()
    # binomial(4000, 0.25): sd ≈ 27 — allow 5 sd
    assert abs(n - 1000) < 140
    ids1 = {r.doc_id for r in kept.select("doc_id").collect()}
    # repartitioning must not change membership (content-addressed)
    ids2 = {
        r.doc_id
        for r in sample_bernoulli(docs.repartition(13), "doc_id", 0.25, 42)
        .select("doc_id")
        .collect()
    }
    assert ids1 == ids2
    # nested property: rate 0.1 ⊂ rate 0.25 at the same seed
    ids_small = {
        r.doc_id
        for r in sample_bernoulli(docs, "doc_id", 0.1, 42).select("doc_id").collect()
    }
    assert ids_small <= ids1


def test_sample_bernoulli_no_shuffle(spark, docs):
    plan = sample_bernoulli(docs, "doc_id", 0.5)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_assign_split_disjoint_exhaustive(spark, docs):
    out = assign_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed=1)
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 4000  # every row in exactly one split
    assert abs(counts["train"] - 3200) < 200
    assert abs(counts["val"] - 400) < 150
    # stability: a doc never migrates between splits across runs
    m1 = {(r.doc_id, r.split) for r in out.select("doc_id", "split").collect()}
    m2 = {
        (r.doc_id, r.split)
        for r in assign_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, 1)
        .select("doc_id", "split")
        .collect()
    }
    assert m1 == m2


def test_assign_split_rejects_bad_weights(spark, docs):
    with pytest.raises(ValueError):
        assign_split(docs, "doc_id", {"a": 0.5, "b": 0.6})


def test_sample_stratified_rates(spark, docs):
    out = sample_stratified(
        docs, "doc_id", "lang", {"en": 1.0, "de": 0.5, "fr": 0.0}, default_rate=0.0
    )
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts.get("en") == 1000  # rate 1.0 keeps all
    assert "fr" not in counts and "es" not in counts  # 0.0 + default 0.0
    assert abs(counts.get("de", 0) - 500) < 110


def _replay_pack(rows, budget):
    """Reference next-fit packing per shard, id order."""
    out = {}
    by_shard = {}
    for r in sorted(rows, key=lambda r: (r["shard"], r["id"])):
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        fill, b, p = 0, -1, 0
        for r in rs:
            t = r["doc_tokens"]
            if b < 0 or fill + t > budget:
                b, fill, p = b + 1, 0, 0
            out[r["id"]] = (shard, b, p)
            fill += t
            p += 1
    return out


def test_pack_sequences_matches_reference_replay(spark, docs):
    budget = 2048
    packed = pack_sequences(docs, "doc_id", "n_tokens", budget=budget, n_shards=4)
    rows = [r.asDict() for r in packed.collect()]
    assert len(rows) == 4000  # no doc lost or duplicated
    assert len({r["id"] for r in rows}) == 4000
    expect = _replay_pack(rows, budget)
    for r in rows:
        assert (r["shard"], r["bin"], r["pos_in_bin"]) == expect[r["id"]]
    # bin_tokens consistent and within budget (no doc here exceeds it)
    from collections import defaultdict

    fills = defaultdict(int)
    for r in rows:
        fills[(r["shard"], r["bin"])] += r["doc_tokens"]
    for r in rows:
        assert r["bin_tokens"] == fills[(r["shard"], r["bin"])]
        assert r["bin_tokens"] <= budget


def test_pack_sequences_oversized_doc_gets_own_bin(spark):
    df = spark.createDataFrame(
        [(1, 100), (2, 5000), (3, 200)], "doc_id long, n_tokens long"
    )
    rows = {r.id: r for r in pack_sequences(df, "doc_id", "n_tokens", 1024, n_shards=1).collect()}
    big = rows[2]
    assert big.bin_tokens == 5000  # oversized doc alone in its bin
    assert rows[1].bin != big.bin and rows[3].bin != big.bin
    assert big.pos_in_bin == 0


def test_top_k_per_window_ties_and_rank(spark):
    tier = spark.createDataFrame(
        [
            ("h1", "a", 10),
            ("h1", "b", 10),
            ("h1", "c", 5),
            ("h2", "z", 1),
        ],
        "bucket string, tool string, n long",
    )
    out = top_k_per_window(tier, ["bucket"], "tool", "n", k=2)
    got = {(r.bucket, r.tool): r.rank for r in out.collect()}
    # tie at 10 breaks by key asc: a before b; c excluded by k=2
    assert got == {("h1", "a"): 1, ("h1", "b"): 2, ("h2", "z"): 1}



# ---------------------------------------------------------------------------
# property tests (pure cores — no Spark job per example)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

from mq_to_db_spark.operators.packing import next_fit_assign
from mq_to_db_spark.operators.sampling import _threshold


@settings(max_examples=300, deadline=None)
@given(
    tokens=st.lists(st.integers(min_value=0, max_value=5000), max_size=200),
    budget=st.integers(min_value=1, max_value=4096),
)
def test_next_fit_invariants(tokens, budget):
    bins, pos = next_fit_assign(tokens, budget)
    assert len(bins) == len(pos) == len(tokens)
    if not tokens:
        return
    # bins are 0-based, consecutive, non-decreasing
    assert bins[0] == 0 and pos[0] == 0
    for i in range(1, len(tokens)):
        assert bins[i] - bins[i - 1] in (0, 1)
        assert pos[i] == (pos[i - 1] + 1 if bins[i] == bins[i - 1] else 0)
    # every bin within budget unless it is a single oversized doc;
    # and next-fit tightness: a new bin only opens when the doc would
    # NOT have fit in the previous bin's remaining space
    fills = {}
    for t, b in zip(tokens, bins):
        fills[b] = fills.get(b, 0) + t
    counts = {}
    for b in bins:
        counts[b] = counts.get(b, 0) + 1
    for b, f in fills.items():
        assert f <= budget or counts[b] == 1
    for i in range(1, len(tokens)):
        if bins[i] != bins[i - 1]:
            assert fills[bins[i - 1]] + tokens[i] > budget


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.floats(min_value=0.0, max_value=1.0, allow_nan=False), min_size=1, max_size=6
    ).filter(lambda ws: sum(ws) > 0)
)
def test_cumulative_thresholds_monotone_and_bounded(ws):
    total = sum(ws)
    ws = [w / total for w in ws]  # normalize to a valid weight vector
    cum = 0.0
    prev = 0
    for w in ws:
        cum += w
        t = _threshold(min(cum, 1.0))
        assert prev <= t <= (1 << 60)
        prev = t
    # rate edges: 0 keeps nothing (u >= 0 always), 1 keeps everything
    assert _threshold(0.0) == 0
    assert _threshold(1.0) == 1 << 60


def test_top_k_rank_pushdown_in_plan(spark, docs):
    """The physical plan must apply WindowGroupLimit BELOW the window
    exchange (partial top-k per map task), so at scale only ~k rows per
    window per input partition cross the wire — the plan shape the
    tier-ranking design relies on."""
    tier = docs.select("lang", "doc_id", "n_tokens")
    out = top_k_per_window(tier, ["lang"], "doc_id", "n_tokens", k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan  # map-side partial top-k present


def test_write_training_shards_deterministic_layout(spark, docs, tmp_path):
    """Sharded export: membership = hash % n_shards, within-shard order
    = ascending hash (reproducible training order), nothing lost, and a
    second write yields identical content."""
    import glob

    from mq_to_db_spark.operators.packing import write_training_shards

    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_training_shards(docs, p1, "doc_id", n_shards=4, seed=3)
    write_training_shards(docs, p2, "doc_id", n_shards=4, seed=3)

    back = spark.read.parquet(p1)
    assert back.count() == 4000
    # membership: shard == hash % 4 for every row
    bad = back.withColumn(
        "expect", F.pmod(hash_u60("doc_id", 3), F.lit(4)).cast("int")
    ).where(F.col("shard") != F.col("expect")).count()
    assert bad == 0
    # one file per shard dir; file row-order ascending by hash
    for k in range(4):
        files = glob.glob(f"{p1}/shard={k}/*.parquet")
        assert len(files) == 1, files
        pdf = spark.read.parquet(files[0]).toPandas()
        import pandas as pd

        hs = [
            r.u
            for r in spark.createDataFrame(pdf[["doc_id"]])
            .select(hash_u60("doc_id", 3).alias("u"))
            .collect()
        ]
        assert hs == sorted(hs)
    # reproducible: same rows in the same shards both times
    a = spark.read.parquet(p1).orderBy("doc_id").toPandas()
    b = spark.read.parquet(p2).orderBy("doc_id").toPandas()
    assert a.equals(b)


def test_chunk_spans_overlap_and_clamp(spark):
    """Sliding-window chunking: stride < window overlaps, the last chunk
    clamps to the doc end, zero-token docs vanish."""
    import pytest

    from mq_to_db_spark.operators.packing import chunk_spans

    df = spark.createDataFrame(
        [(1, 10), (2, 8), (3, 0), (4, 2)], "doc_id long, n_tok long"
    )
    got = {
        (r.doc_id, r.chunk_idx): (r.start, r.end, r.chunk_len)
        for r in chunk_spans(df, "doc_id", "n_tok", window=4, stride=3).collect()
    }
    assert got == {
        (1, 0): (0, 4, 4),
        (1, 1): (3, 7, 4),
        (1, 2): (6, 10, 4),
        (1, 3): (9, 10, 1),
        (2, 0): (0, 4, 4),
        (2, 1): (3, 7, 4),
        (2, 2): (6, 8, 2),
        (4, 0): (0, 2, 2),
    }
    # default stride == window: disjoint exact cover
    disjoint = {
        (r.doc_id, r.chunk_idx): (r.start, r.end)
        for r in chunk_spans(df, "doc_id", "n_tok", window=4).collect()
    }
    assert disjoint == {
        (1, 0): (0, 4),
        (1, 1): (4, 8),
        (1, 2): (8, 10),
        (2, 0): (0, 4),
        (2, 1): (4, 8),
        (4, 0): (0, 2),
    }
    with pytest.raises(ValueError):
        chunk_spans(df, "doc_id", "n_tok", window=0)
    with pytest.raises(ValueError):
        chunk_spans(df, "doc_id", "n_tok", window=4, stride=-1)


def test_chunk_spans_coverage_property(spark):
    """Every token index lands in ≥1 chunk; consecutive chunks overlap by
    exactly window - stride (until the clamped tail)."""
    from mq_to_db_spark.operators.packing import chunk_spans

    df = spark.createDataFrame([(i, 3 + 7 * i) for i in range(12)], "doc_id long, n long")
    rows = chunk_spans(df, "doc_id", "n", window=16, stride=11).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.start, r.end))
    for i in range(12):
        n = 3 + 7 * i
        chunks = sorted(by_doc.get(i, []))
        covered = set()
        for _, s, e in chunks:
            assert 0 <= s < e <= n
            covered |= set(range(s, e))
        assert covered == set(range(n)), i


# -- temperature mixture sampling ---------------------------------------------


def test_sample_mixture_upweights_rare_domains(spark):
    from mq_to_db_spark.operators.sampling import sample_mixture

    # skewed corpus: 'big' 8000 docs, 'mid' 900, 'rare' 100
    rows = (
        [(i, "big") for i in range(8000)]
        + [(10_000 + i, "mid") for i in range(900)]
        + [(20_000 + i, "rare") for i in range(100)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string").cache()
    out = sample_mixture(
        df, "doc_id", "source", alpha=0.5, target_rows=900.0, seed=7
    )
    kept = {
        r.source: r.n
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # expected per-domain mass = C·n^α: z = √8000+√900+√100 ≈ 129.4,
    # every domain contributes ≈ 900·√n/z — SAME expected count per
    # domain (that's α=0.5 flattening); binomial 5σ bounds
    import math
    z = math.sqrt(8000) + math.sqrt(900) + math.sqrt(100)
    for d, n in (("big", 8000), ("mid", 900), ("rare", 100)):
        exp = 900.0 * math.sqrt(n) / z
        sd = math.sqrt(exp)
        assert abs(kept.get(d, 0) - exp) < 5 * sd, (d, kept.get(d), exp)
    # rare domain keep-RATE far above big's (upweighting direction)
    assert kept["rare"] / 100 > 5 * kept["big"] / 8000
    # determinism + partition independence
    again = {r.doc_id for r in sample_mixture(
        df.repartition(11), "doc_id", "source", alpha=0.5,
        target_rows=900.0, seed=7).collect()}
    assert again == {r.doc_id for r in out.collect()}


def test_sample_mixture_alpha_one_is_uniform_rate(spark):
    from mq_to_db_spark.operators.sampling import sample_mixture

    rows = [(i, "a" if i % 10 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sample_mixture(
        df, "doc_id", "source", alpha=1.0, target_rows=500.0, seed=3,
        rate_col="rate",
    )
    # α=1 ⇒ every domain keeps the same rate = target/total
    rates = {r.rate for r in out.select("rate").distinct().collect()}
    assert len(rates) == 1
    assert abs(next(iter(rates)) - 0.25) < 1e-12


def test_sample_mixture_validates(spark, docs):
    from mq_to_db_spark.operators.sampling import sample_mixture

    with pytest.raises(ValueError):
        sample_mixture(docs, "doc_id", "lang", alpha=1.5, target_rows=10)
    with pytest.raises(ValueError):
        sample_mixture(docs, "doc_id", "lang", alpha=0.5, target_rows=0)


# -- last-write-wins upsert ----------------------------------------------------


def test_lww_upsert_semantics(spark):
    from mq_to_db_spark.operators.replicas import lww_upsert

    rows = [
        # (key, ts, seq, v): dup at t1 — seq 3 wins even though listed first
        ("k1", "2024-01-01 00:00:00", 3, 30.0),
        ("k1", "2024-01-01 00:00:00", 1, 10.0),
        ("k1", "2024-01-01 00:00:00", 2, 20.0),
        # singleton passes through
        ("k1", "2024-01-01 00:01:00", 1, 11.0),
        # other key isolated
        ("k2", "2024-01-01 00:00:00", 1, 99.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts string, seq int, v double") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = lww_upsert(df, ["k"], ts_col="ts", seq_col="seq")
    got = {(r.k, str(r.ts)): (r.seq, r.v) for r in out.collect()}
    assert got[("k1", "2024-01-01 00:00:00")] == (3, 30.0)
    assert got[("k1", "2024-01-01 00:01:00")] == (1, 11.0)
    assert got[("k2", "2024-01-01 00:00:00")] == (1, 99.0)
    # idempotence: upserting the winners again is a no-op
    again = lww_upsert(out, ["k"], ts_col="ts", seq_col="seq")
    assert {(r.k, str(r.ts)): (r.seq, r.v) for r in again.collect()} == got


def test_lww_upsert_single_agg_plan(spark):
    from mq_to_db_spark.operators.replicas import lww_upsert

    df = spark.range(100).select(
        F.lit("k").alias("k"),
        F.col("id").cast("timestamp").alias("ts"),
        (F.col("id") % 3).cast("int").alias("seq"),
        F.col("id").cast("double").alias("v"),
    )
    plan = (
        lww_upsert(df, ["k"], ts_col="ts", seq_col="seq")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one hash-agg pair, no window, no join, no Python
    assert plan.count("Exchange") == 1
    assert "Window" not in plan and "Join" not in plan and "Python" not in plan
