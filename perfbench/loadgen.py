"""Seeded inputs for every workload.

    python3 perfbench/loadgen.py --workload NAME --seed N --scale F --out DIR

Everything here is a pure function of the seed: the same seed gives
byte-identical parquet inputs.  The program under test only ever sees the
written files.  ``run.py`` runs this module as a child process while the
Spark session starts, so the pandas working set of input generation never
counts into the benchmark's ``peak_rss_mb``.

Transcripts come from ``mq_to_db_spark.fixtures`` (Zipf-skewed
conversations over a 7-day window with daily dead hours).  Dirty rows come
from ``inject_dirty_rows``: one row each of null conv_id, empty conv_id,
negative turn_idx, null ts and unknown role, plus one duplicate
``(conv_id, turn_idx)`` redelivered 1 s later.
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pandas as pd

from mq_to_db_spark.fixtures import generate_transcripts_pdf, inject_dirty_rows

#: dead-letter rows ``inject_dirty_rows`` adds to one batch, by reason
DIRTY_PER_BATCH = {
    "null_or_empty_conv_id": 2,
    "null_ts": 1,
    "negative_or_null_turn_idx": 1,
    "unknown_role": 1,
    "duplicate_conv_turn_key": 1,
}

#: micro-batch shape: on-time turns per batch and the late share
STREAM_TURNS_PER_BATCH = 150
STREAM_LATE_SHARE = 0.05
#: 7-day turn count at which one micro-batch spans ~10 minutes of stream
STREAM_TOTAL_TURNS = 130_000
#: micro-batches staged for one run: the warm-up, the timed ones and the
#: one ``--corrupt`` commits; a timed pass takes 14-27 s on 4 cores
STREAM_BATCHES = 12

#: the dashboard store: the first day of a 7-day, 28k-turn history
DASHBOARD_TURNS = 28_000
DASHBOARD_DAYS = 1
#: contract tables at the row counts of the driver's sf0.1 data set
CONTRACT_ROWS = {"events": 100_000, "documents": 5_000, "embeddings": 2_000}


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    """Spark reads microsecond timestamps only; pandas defaults to ns."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, index=False, coerce_timestamps="us")


def _subseed(seed: int, salt: int) -> int:
    return int(np.random.SeedSequence([seed, salt]).generate_state(1)[0])


def stream_batches(seed: int, n_batches: int, total_turns: int = STREAM_TOTAL_TURNS):
    """A queue of append micro-batches over one transcript history.

    Batch ``i`` holds the next ``STREAM_TURNS_PER_BATCH`` turns in ``ts``
    order from a seeded start on day 4 (a moving ~10-minute slice: about
    one date x every conv bucket), plus ``STREAM_LATE_SHARE`` of late turns
    drawn from ONE earlier date (days 1-3, seeded per batch), plus the
    dirty rows.  No turn is delivered twice across batches.
    """
    rng = np.random.default_rng(_subseed(seed, 3))
    hist = generate_transcripts_pdf(total_turns, seed=_subseed(seed, 4))
    hist = hist.sort_values(["ts", "conv_id", "turn_idx"], ignore_index=True)
    day = hist["ts"].dt.floor("D")
    first_day = day.iloc[0]
    start = first_day + pd.Timedelta(days=3) + pd.Timedelta(hours=int(rng.integers(6, 12)))
    live = hist[hist["ts"] >= start]
    late_pool = {d: hist[day == first_day + pd.Timedelta(days=d)] for d in range(3)}
    n_late = int(round(STREAM_TURNS_PER_BATCH * STREAM_LATE_SHARE))
    taken = {d: 0 for d in late_pool}
    out = []
    for i in range(n_batches):
        on_time = live.iloc[i * STREAM_TURNS_PER_BATCH : (i + 1) * STREAM_TURNS_PER_BATCH]
        d = int(rng.integers(0, 3))
        pool = late_pool[d]
        late = pool.iloc[taken[d] : taken[d] + n_late]
        taken[d] += n_late
        batch = pd.concat([on_time, late], ignore_index=True)
        out.append(inject_dirty_rows(batch, seed=_subseed(seed, 100 + i)))
    return out


# -- contract tables (events / documents / embeddings) ----------------------

_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_DOC_VOCAB = np.array(
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the".split()
)
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_LANG_P = np.array([0.44, 0.15, 0.14, 0.14, 0.13])
_MIN_DOC_WORDS = 20


def contract_tables(seed: int, n_events: int = 10_000, n_docs: int = 500, n_vecs: int = 500):
    """The three driver tables the analytics queries read, in the driver's
    schema: ``events`` (30 days of 2-decimal values from 2024-01-01),
    ``documents`` (bag-of-vocab texts, ~5% near-duplicates), ``embeddings``
    (64-d unit vectors around 10 labelled centroids).

    A near-duplicate is a source document plus one word, so with at least
    ``_MIN_DOC_WORDS`` words every near-duplicate pair has a word-3-shingle
    Jaccard of at least 18/19.  ``minhash_pairs``' LSH (8 bands of 4 rows)
    then misses a pair with probability below 3e-6; at 8-word sources
    (J = 6/7) it was 2e-3 a pair, and one seed in ten lost a pair against
    its exact oracle."""
    rng = np.random.default_rng(_subseed(seed, 5))
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, size=n_events))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype="int64"),
            "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, size=n_events).astype("int64"),
            "event_type": _EVENT_TYPES[rng.integers(0, 5, size=n_events)],
            "value": np.maximum(np.round(rng.lognormal(3.5, 0.9, size=n_events), 2), 0.01),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n_events)],
        }
    )

    texts = []
    for _ in range(n_docs):
        n = int(rng.integers(_MIN_DOC_WORDS, 101))
        texts.append(" ".join(_DOC_VOCAB[rng.integers(0, len(_DOC_VOCAB), size=n)]))
    # sources and near-duplicates are disjoint: no duplicate of a duplicate
    order = rng.permutation(n_docs)
    dups, sources = order[: n_docs // 20], order[n_docs // 20 :]
    for i in dups:
        texts[int(i)] = texts[int(rng.choice(sources))] + " dup"
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": _LANGS[rng.choice(5, size=n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )

    centroids = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, size=n_vecs).astype("int32")
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    embeddings = pd.DataFrame(
        {"vec_id": np.arange(n_vecs, dtype="int64"), "embedding": list(vecs), "label": labels}
    )
    return {"events": events, "documents": documents, "embeddings": embeddings}


def dashboard_batch(seed: int, n_turns: int, days: int) -> pd.DataFrame:
    """The dashboard store's one bulk delivery: the first ``days`` days of
    a 7-day transcript history of ``n_turns``, plus the dirty rows."""
    hist = generate_transcripts_pdf(n_turns, seed=_subseed(seed, 6))
    end = hist["ts"].min().normalize() + pd.Timedelta(days=days)
    return inject_dirty_rows(hist[hist["ts"] < end].reset_index(drop=True), seed=_subseed(seed, 7))


def generate(workload: str, seed: int, scale: float, out: str) -> None:
    """Write one run's inputs under ``out``: ``in/*.parquet`` deliveries,
    ``sf/*.parquet`` contract tables and ``meta.json``."""
    meta: dict = {}
    if workload == "ingest_stream":
        for i, b in enumerate(stream_batches(seed, STREAM_BATCHES, int(STREAM_TOTAL_TURNS * scale))):
            write_parquet(b, os.path.join(out, "in", f"b{i:04d}.parquet"))
    elif workload == "analytics_contract":
        # the dashboard store's delivery, ingested by traced runs only
        bulk = dashboard_batch(seed, int(DASHBOARD_TURNS * scale), DASHBOARD_DAYS)
        write_parquet(bulk, os.path.join(out, "in", "bulk.parquet"))
        meta["day"] = str(pd.Timestamp(bulk["ts"].min()).date())
        sizes = {t: int(n * scale) for t, n in CONTRACT_ROWS.items()}
        tables = contract_tables(seed, sizes["events"], sizes["documents"], sizes["embeddings"])
        for name, pdf in tables.items():
            write_parquet(pdf, os.path.join(out, "sf", f"{name}.parquet"))
    else:
        raise ValueError(f"no inputs for workload {workload!r}")
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="write one run's seeded inputs")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.scale, a.out)
