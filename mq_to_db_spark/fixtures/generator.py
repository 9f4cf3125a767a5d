"""Deterministic synthetic transcript generator (FIXTURES.md §1).

Schema is exactly the BASELINE.json ``input_hint``:
    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Design goals:
  * fully vectorized (numpy) — generating sf0.1 (~600k turns) takes seconds;
  * **skewed** conv_id distribution (Zipf) so a few hot conversations carry
    a large share of turns — exercises the salting/AQE skew path the
    north_rule requires;
  * deliberate dead hours (no conversation activity 03:00–05:59 UTC daily)
    so gap-fill has real gaps to fill;
  * text includes non-ASCII and empty strings — the byte-exact text-equality
    invariant (mirroring the reference's golden-serialization discipline,
    /root/reference/internal/messages/sql_test.go:110,147-159) must survive
    them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

_ROLES = np.array(["user", "assistant", "system", "tool"])
_ROLE_P = np.array([0.40, 0.40, 0.05, 0.15])
_TOOLS = np.array(["bash", "read", "write", "search", "edit", "fetch"])
# Vocab deliberately includes non-ASCII and emoji.
_VOCAB = np.array(
    "the quick brown fox jumps over lazy dog spark rollup window tier "
    "aggregate shuffle partition conversation agent transcript tool call "
    "naïve café émigré 日本語 データ 処理 straße größe 🚀 ✓ Ω λ".split()
)

_EPOCH = np.datetime64("2025-01-01T00:00:00", "us")
_WINDOW_DAYS = 7
_DEAD_HOURS = (3, 4, 5)  # daily dead interval → real gaps for gap-fill


def generate_transcripts_pdf(n_turns: int = 5000, seed: int = 42) -> pd.DataFrame:
    """Return a deterministic pandas DataFrame of transcript turns.

    ``(conv_id, turn_idx)`` is a dense unique key per conversation
    (analogue of the reference's MessageID, consumer.go:83); ``ts`` is
    strictly increasing within a conversation so `(conv_id, turn_idx)`
    ordering == ts ordering (stable turn ordering per input_hint).

    The cyclic GC is suspended for the duration: the texts list holds
    n_turns Python strings, and every generation-2 collection rescans all
    of them — at 32M turns that turns a ~9-minute linear job into an
    hour-plus superlinear one.  Nothing here creates reference cycles,
    so suspending collection changes no behavior.
    """
    import gc

    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        return _generate_transcripts_pdf(n_turns, seed)
    finally:
        if gc_was_enabled:
            gc.enable()


def _generate_transcripts_pdf(n_turns: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n_convs = max(8, n_turns // 25)

    # Zipf-weighted conversation assignment → hot conversations.
    ranks = np.arange(1, n_convs + 1, dtype=np.float64)
    weights = ranks ** -1.2
    weights /= weights.sum()
    conv_of_turn = rng.choice(n_convs, size=n_turns, p=weights)

    # Per-conversation start times: uniform over the window, but never in
    # the dead hours (re-draw hour from allowed set).
    start_sec = rng.uniform(0, _WINDOW_DAYS * 86400, size=n_convs)
    hour = (start_sec % 86400) // 3600
    dead = np.isin(hour, _DEAD_HOURS)
    allowed_hours = np.array([h for h in range(24) if h not in _DEAD_HOURS])
    new_hour = rng.choice(allowed_hours, size=int(dead.sum()))
    start_sec[dead] = (
        (start_sec[dead] // 86400) * 86400 + new_hour * 3600 + rng.uniform(0, 3600, size=int(dead.sum()))
    )

    # Turn gaps: exponential, mean 20 s, floored at 1 µs so ts is strictly
    # increasing within a conversation.
    order = np.argsort(conv_of_turn, kind="stable")
    conv_sorted = conv_of_turn[order]
    gaps = np.maximum(rng.exponential(20.0, size=n_turns), 1e-6)
    csum = np.cumsum(gaps)
    conv_first = np.r_[True, conv_sorted[1:] != conv_sorted[:-1]]
    first_idx = np.flatnonzero(conv_first)
    prev_csum = np.where(first_idx > 0, csum[first_idx - 1], 0.0)
    seg_id = np.cumsum(conv_first) - 1
    within = csum - prev_csum[seg_id]

    ts_sec = start_sec[conv_sorted] + within
    ts_us = (_EPOCH + (ts_sec * 1e6).astype("int64").astype("timedelta64[us]"))

    turn_idx = (np.arange(n_turns) - first_idx[seg_id]).astype("int32")

    roles = rng.choice(len(_ROLES), size=n_turns, p=_ROLE_P)
    role = _ROLES[roles]
    tool = np.where(role == "tool", _TOOLS[rng.integers(0, len(_TOOLS), size=n_turns)], None)

    # Text: lognormal word counts; ~1% empty strings.
    n_words = np.maximum(rng.lognormal(1.5, 0.8, size=n_turns).astype("int64"), 1)
    n_words[rng.random(n_turns) < 0.01] = 0
    total_words = int(n_words.sum())
    word_ids = rng.integers(0, len(_VOCAB), size=total_words)
    joined = _VOCAB[word_ids]
    offsets = np.r_[0, np.cumsum(n_words)]
    # Byte-identical to `" ".join(joined[o_i:o_{i+1}])` per turn, but one
    # C-level global join + O(1) char-offset slicing instead of a Python
    # join per turn (~8× faster at 10^7 turns): every adjacent word pair
    # in the big string is separated by exactly one space, so turn i spans
    # chars [cum[o_i], cum[o_{i+1}] - 1).
    vocab_chars = np.array([len(w) for w in _VOCAB], dtype="int64")
    cum = np.zeros(total_words + 1, dtype="int64")
    np.cumsum(vocab_chars[word_ids] + 1, out=cum[1:])
    big = " ".join(joined)
    starts = cum[offsets[:-1]]
    ends = np.maximum(cum[offsets[1:]] - 1, starts)
    texts = [big[a:b] for a, b in zip(starts.tolist(), ends.tolist())]

    pdf = pd.DataFrame(
        {
            "conv_id": pd.array([f"conv-{c:08d}" for c in conv_sorted], dtype="string"),
            "turn_idx": turn_idx,
            "role": role,
            "text": pd.array(texts, dtype="string"),
            "tool": pd.array(tool, dtype="string"),
            "ts": ts_us,
        }
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf.sort_values(["conv_id", "turn_idx"], ignore_index=True)


def inject_dirty_rows(pdf: pd.DataFrame, seed: int = 7) -> pd.DataFrame:
    """Append invalid rows (FIXTURES.md §1b): null/empty conv_id, null ts,
    negative turn_idx, duplicate (conv_id, turn_idx), unknown role —
    mirrors the reference's strict-parse / reject-routing test cases
    (sql_test.go:45-50, messages.go:65-84)."""
    rng = np.random.default_rng(seed)
    base_ts = pdf["ts"].iloc[0]
    bad = pd.DataFrame(
        {
            "conv_id": pd.array(
                [None, "", "conv-dirty01", "conv-dirty02", "conv-dirty03", pdf["conv_id"].iloc[0]],
                dtype="string",
            ),
            "turn_idx": pd.array([0, 0, -1, 0, 0, pdf["turn_idx"].iloc[0]], dtype="int32"),
            "role": ["user", "assistant", "user", "user", "oracle", "user"],
            "text": pd.array(["x", "y", "z", "w", "v", "dup"], dtype="string"),
            "tool": pd.array([None] * 6, dtype="string"),
            # the duplicate-key row is a *later* redelivery (ts + 1s) so
            # first-delivery-wins dedup is deterministic; the input's ts
            # dtype is kept (a ns column would be written as
            # TIMESTAMP(NANOS) parquet, which Spark refuses to read)
            "ts": pd.Series(
                [base_ts, base_ts, base_ts, None, base_ts, base_ts + pd.Timedelta(seconds=1)],
                dtype=pdf["ts"].dtype,
            ),
        }
    )
    out = pd.concat([pdf, bad], ignore_index=True)
    return out.iloc[rng.permutation(len(out))].reset_index(drop=True)


def write_transcripts_parquet(
    path: str,
    n_turns: int = 5000,
    seed: int = 42,
    dirty: bool = False,
    n_shards: int | None = None,
) -> pd.DataFrame:
    """Write the synthetic table to parquet; returns the pdf.

    ``n_shards``: split into that many part files (a directory) so Spark's
    scan has enough input splits to feed every core — a single
    pandas-written file has ~1M-row row groups and caps scan parallelism
    at a handful of splits regardless of cluster size.  Default: one file
    under 100k turns, else ``n_turns // 50_000`` shards.
    """
    import os

    pdf = generate_transcripts_pdf(n_turns=n_turns, seed=seed)
    if dirty:
        pdf = inject_dirty_rows(pdf)
    if n_shards is None:
        n_shards = 1 if n_turns <= 100_000 else max(2, n_turns // 50_000)
    if n_shards <= 1:
        tmp = path + ".tmp"
        pdf.to_parquet(tmp, index=False)
        if os.path.isdir(path):  # was previously sharded — clear the dir
            import shutil

            shutil.rmtree(path)
        os.replace(tmp, path)
    else:
        # write shards into a temp dir, atomically rename when complete —
        # a killed/timed-out generation must never leave a partial
        # directory that a later bench run would read as the fixture
        import shutil

        tmp = path + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        bounds = np.linspace(0, len(pdf), n_shards + 1).astype(int)
        for i in range(n_shards):
            pdf.iloc[bounds[i] : bounds[i + 1]].to_parquet(
                os.path.join(tmp, f"part-{i:05d}.parquet"), index=False
            )
        # os.replace cannot rename onto a non-empty directory (ENOTEMPTY)
        # or onto a file when tmp is a dir — clear the destination first
        # (regeneration over an existing fixture is a supported call)
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)
        os.replace(tmp, path)
    return pdf
